package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Multimodal (image/audio/video) column plumbing: opaque `binary` payloads +
  * typed metadata, with decode / feature-extract / resize / frame-sample as
  * per-partition batch operators.
  *
  * ==== CODEC NOTICE (was: STUB NOTICE) ====
  * Every operator calls the `Codec` seam, which decodes REAL containers
  * with the JDK's pure-Java codecs (PNG/JPEG via javax.imageio, WAV/PCM
  * via javax.sound — r13; MultimodalSpec drives real image and audio bytes
  * through decode / features / aHash / energy end-to-end) and falls
  * through to `FakeCodec` — a DETERMINISTIC FAKE (arithmetic on payload
  * bytes) — for anything else, including the synthetic UTF-8 corpus the
  * oracle gates run on. VIDEO remains honestly stubbed: the JDK ships no
  * MP4/MKV demuxer, so frame fingerprints stay fake until an ffmpeg
  * binding exists in the environment. The schema, typed Dataset plumbing,
  * mapPartitions-with-batching execution shape, and partitioning are
  * identical on both paths. In PySpark the same seam is `mapInPandas`
  * with an Arrow batch per decode call; `mapPartitions` +
  * `Iterator.grouped` is the JVM equivalent (one codec instance per
  * partition, amortized across a batch).
  *
  * Scale notes:
  *   - Payloads stay distributed; nothing media-sized ever reaches the
  *     driver. Decode parallelism = partition count; `repartition(media_id)`
  *     balances skewed payload sizes before the expensive stage.
  *   - Decoded features are small fixed-width vectors — the output of the
  *     decode stage is orders of magnitude narrower than its input, the
  *     right shape for a shuffle boundary.
  */
object Multimodal {

  final case class MediaMeta(format: String, declared_width: Int, declared_height: Int, duration_ms: Long)
  final case class MediaRow(media_id: Long, kind: String, payload: Array[Byte], meta: MediaMeta)
  final case class DecodedMedia(
      media_id: Long,
      kind: String,
      width: Int,
      height: Int,
      n_bytes: Long,
      byte_sum: Long
  )
  final case class MediaFeatures(media_id: Long, kind: String, features: Array[Float])
  final case class Frame(media_id: Long, frame_idx: Int, frame_ts_ms: Long, frame_bytes: Long)
  final case class ResizedMedia(
      media_id: Long,
      kind: String,
      width: Int,
      height: Int,
      out_width: Int,
      out_height: Int,
      scale: Double,
      resized_bytes: Long
  )

  val FeatureDim = 16
  val DecodeBatchSize = 64

  /** Deterministic fake codec — the clearly-marked stand-in for a real
    * image/audio/video library (see STUB NOTICE above).
    */
  object FakeCodec {
    def decode(payload: Array[Byte]): (Int, Int, Long) = {
      // real codec would parse a header; the fake derives dims from content
      val n = payload.length
      var sum = 0L
      var i = 0
      while (i < n) { sum += payload(i) & 0xff; i += 1 }
      (64 + (n % 512), 64 + (sum % 512).toInt, sum)
    }

    /** Byte-histogram "embedding" (16 buckets, L1-normalized) — the feature
      * extractor stand-in.
      */
    def features(payload: Array[Byte]): Array[Float] = {
      val h = new Array[Float](FeatureDim)
      payload.foreach(b => h((b & 0xff) % FeatureDim) += 1f)
      val total = math.max(1f, payload.length.toFloat)
      h.map(_ / total)
    }

    /** Per-frame content fingerprints of the decoded "video": the payload
      * sliced into one window per sampled frame (q38's 1 fps cadence ⇒
      * F = ceil(duration/1000) frames), md5 per slice — the keyframe-
      * fingerprint stand-in (a real codec would pHash each decoded
      * keyframe). Tail windows past the payload produce no fingerprint, so
      * no two videos can ever "share" an empty frame.
      */
    def frameFingerprints(payload: Array[Byte], durationMs: Long): Array[String] = {
      val n = payload.length
      val f = math.ceil(durationMs / 1000.0).toInt
      if (n == 0 || f <= 0) return Array.empty
      val w = math.max(1, math.ceil(n.toDouble / f).toInt)
      (0 until f).iterator
        .takeWhile(i => i * w < n)
        .map { i =>
          val end = math.min((i + 1) * w, n)
          java.security.MessageDigest
            .getInstance("MD5")
            .digest(java.util.Arrays.copyOfRange(payload, i * w, end))
            .map("%02x".format(_))
            .mkString
        }
        .toArray
    }

    /** Per-window byte-sum energies of the decoded "audio" — fixed
      * 50-byte windows, tail window shorter. The energy-envelope stand-in
      * (a real codec would RMS decoded PCM windows).
      */
    val AudioWindowBytes = 50
    def energyWindows(payload: Array[Byte]): Array[Long] = {
      val n = payload.length
      Array.tabulate(math.ceil(n.toDouble / AudioWindowBytes).toInt) { c =>
        var s = 0L
        var i = c * AudioWindowBytes
        val end = math.min((c + 1) * AudioWindowBytes, n)
        while (i < end) { s += payload(i) & 0xff; i += 1 }
        s
      }
    }

    /** 64-bit average-hash (aHash) of the decoded "image", returned as 8
      * band bytes (ints 0-255): the payload is split into 64 equal-width
      * cells, each cell's byte sum thresholded against the global mean —
      * the classic perceptual-hash recipe with the fake codec's "pixels"
      * being payload bytes. Returned banded (8 bits per band) because the
      * near-dup miner buckets on band equality; total/64.0 is a power-of-2
      * divide, so the threshold compare is EXACT in both engines.
      */
    def aHash(payload: Array[Byte]): Array[Int] = {
      val n = payload.length
      val w = math.ceil(n / 64.0).toInt
      val cells = Array.tabulate(64) { c =>
        var s = 0L
        var i = c * w
        val end = math.min((c + 1) * w, n)
        while (i < end) { s += payload(i) & 0xff; i += 1 }
        s
      }
      val total = cells.sum
      val bits = cells.map(v => if (v.toDouble > total / 64.0) 1 else 0)
      Array.tabulate(8)(b => (0 until 8).map(j => bits(b * 8 + j) << j).sum)
    }
  }

  /** REAL codecs via the JDK — zero external dependencies: javax.imageio
    * decodes PNG/JPEG, javax.sound.sampled decodes WAV/PCM (r13: the
    * "real media codecs" carry-item, unblocked for images and audio;
    * video stays honestly stubbed — the JDK ships no MP4/MKV demuxer).
    *
    * Dispatch is by container magic bytes, and the sniff is restricted to
    * signatures that are PROVABLY impossible as leading bytes of valid
    * UTF-8 text (PNG's 0x89 is a continuation byte, JPEG's 0xFF is never
    * valid in UTF-8), so the synthetic corpus — UTF-8 payloads — can never
    * take the real path and every oracle-gated query's output is
    * bit-unchanged. WAV's "RIFF" sniff IS possible ASCII, so the audio
    * path additionally requires a successful strict parse (a text doc
    * starting "RIFF" throws UnsupportedAudioFileException and falls
    * through). Decoding is deterministic: the JDK's PNG/JPEG inverse
    * transforms and WAV PCM framing are fixed pure-Java code paths.
    */
  object RealCodec {
    private def isPng(p: Array[Byte]): Boolean =
      p.length > 8 && (p(0) & 0xff) == 0x89 && p(1) == 'P'.toByte && p(2) == 'N'.toByte && p(3) == 'G'.toByte
    private def isJpeg(p: Array[Byte]): Boolean =
      p.length > 3 && (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd8
    private def isRiffWave(p: Array[Byte]): Boolean =
      p.length > 12 && p(0) == 'R'.toByte && p(1) == 'I'.toByte && p(2) == 'F'.toByte && p(3) == 'F'.toByte &&
        p(8) == 'W'.toByte && p(9) == 'A'.toByte && p(10) == 'V'.toByte && p(11) == 'E'.toByte

    private def read(p: Array[Byte]): Option[java.awt.image.BufferedImage] =
      if (!isPng(p) && !isJpeg(p)) None
      else
        try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p)))
        catch { case _: Exception => None }

    /** 0-255 luminance, ITU-R BT.601 integer form — exact integer math. */
    private def luma(rgb: Int): Int = {
      val r = (rgb >> 16) & 0xff
      val g = (rgb >> 8) & 0xff
      val b = rgb & 0xff
      (r * 299 + g * 587 + b * 114) / 1000
    }

    /** Real decode: true dims + total luminance (the byte-sum analogue). */
    def decode(p: Array[Byte]): Option[(Int, Int, Long)] = read(p).map { img =>
      var sum = 0L
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) { sum += luma(img.getRGB(x, y)); x += 1 }
        y += 1
      }
      (img.getWidth, img.getHeight, sum)
    }

    /** Real feature vector: 16-bucket luminance histogram, L1-normalized —
      * the same shape/normalization contract as the fake's byte histogram.
      */
    def features(p: Array[Byte]): Option[Array[Float]] = read(p).map { img =>
      val h = new Array[Float](FeatureDim)
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) { h(luma(img.getRGB(x, y)) * FeatureDim / 256) += 1f; x += 1 }
        y += 1
      }
      val total = math.max(1f, (img.getWidth.toLong * img.getHeight).toFloat)
      h.map(_ / total)
    }

    /** Real 64-bit average hash — the classic perceptual-hash recipe over
      * actual pixels: 8x8 block-mean luminance grid thresholded against the
      * global mean, banded 8 bits/byte (the fake's exact output shape, so
      * the q114 banded miner runs unchanged on real images). The threshold
      * is the exact cross-multiply cellSum*N > totalSum*cellN — no division
      * ever computed, so the bit pattern is integer-deterministic.
      */
    def aHash(p: Array[Byte]): Option[Array[Int]] = read(p).map { img =>
      val (w, h) = (img.getWidth, img.getHeight)
      val sums = new Array[Long](64)
      val counts = new Array[Long](64)
      var y = 0
      while (y < h) {
        val cy = math.min(7, y * 8 / h)
        var x = 0
        while (x < w) {
          val c = cy * 8 + math.min(7, x * 8 / w)
          sums(c) += luma(img.getRGB(x, y))
          counts(c) += 1
          x += 1
        }
        y += 1
      }
      val (totalSum, totalN) = (sums.sum, counts.sum)
      val bits = Array.tabulate(64)(c => if (sums(c) * totalN > totalSum * counts(c)) 1 else 0)
      Array.tabulate(8)(b => (0 until 8).map(j => bits(b * 8 + j) << j).sum)
    }

    /** Real audio energy envelope: WAV decoded to 16-bit signed PCM, energy
      * = sum of |sample| >> 8 per [[FakeCodec.AudioWindowBytes]]-sample
      * window (the >>8 keeps the magnitude scale comparable to the fake's
      * byte sums). Unsupported encodings fall through to the fake.
      */
    def energyWindows(p: Array[Byte]): Option[Array[Long]] =
      if (!isRiffWave(p)) None
      else
        try {
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(p))
          val f = ais.getFormat
          if (
            f.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
            f.getSampleSizeInBits != 16
          ) None
          else {
            val bytes = ais.readAllBytes()
            val n = bytes.length / 2
            val samples = Array.tabulate(n) { i =>
              val lo = if (f.isBigEndian) bytes(2 * i + 1) else bytes(2 * i)
              val hi = if (f.isBigEndian) bytes(2 * i) else bytes(2 * i + 1)
              ((hi.toInt << 8) | (lo & 0xff)).toShort.toInt
            }
            val win = FakeCodec.AudioWindowBytes
            Some(Array.tabulate(math.ceil(n.toDouble / win).toInt) { c =>
              var s = 0L
              var i = c * win
              val end = math.min((c + 1) * win, n)
              while (i < end) { s += math.abs(samples(i)) >> 8; i += 1 }
              s
            })
          }
        } catch { case _: Exception => None }
  }

  /** The codec seam every media operator calls: a payload that IS a real
    * container decodes for real (JDK codecs); anything else takes the
    * deterministic fake — one pipeline, both worlds, no configuration.
    */
  object Codec {
    def decode(p: Array[Byte]): (Int, Int, Long) = RealCodec.decode(p).getOrElse(FakeCodec.decode(p))
    def features(p: Array[Byte]): Array[Float] = RealCodec.features(p).getOrElse(FakeCodec.features(p))
    def aHash(p: Array[Byte]): Array[Int] = RealCodec.aHash(p).getOrElse(FakeCodec.aHash(p))
    def energyWindows(p: Array[Byte]): Array[Long] =
      RealCodec.energyWindows(p).getOrElse(FakeCodec.energyWindows(p))
  }

  /** Synthetic media table derived deterministically from `documents`:
    * payload = utf-8 text bytes, kind by doc_id mod 3, declared metadata from
    * simple arithmetic. (The plumbing target; payloads are opaque from here.)
    */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRow] =
    mediaTableOf(Tables.balanced(Tables.documents(spark, dir)))

  /** The media view over ANY documents-shaped frame — the derivation is
    * per-row, so the streaming maintainer feeds it deltas and the union
    * of per-delta media rows IS the batch table.
    */
  def mediaTableOf(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(
        col("doc_id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")), (col("doc_id") % 3 + 1).cast("int"))
          .as("kind"),
        encode(col("text"), "UTF-8").as("payload"),
        struct(
          lit("fake/v1").as("format"),
          (col("n_chars") % 640).cast("int").as("declared_width"),
          (col("n_chars") % 480).cast("int").as("declared_height"),
          (col("n_chars") * 40).cast("long").as("duration_ms")
        ).as("meta")
      )
      .as[MediaRow]
  }

  /** Decode stage: per-partition batched fake-decode. One "codec" per
    * partition, payloads processed in DecodeBatchSize groups — the exact
    * execution shape a real codec binding needs (expensive init amortized,
    * bounded memory per batch).
    */
  def decode(media: Dataset[MediaRow]): Dataset[DecodedMedia] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition: real bindings would open the codec here, once
      rows.grouped(DecodeBatchSize).flatMap { batch =>
        batch.map { m =>
          val (w, h, sum) = Codec.decode(m.payload)
          DecodedMedia(m.media_id, m.kind, w, h, m.payload.length.toLong, sum)
        }
      }
    }
  }

  /** Feature extraction stage: same batched mapPartitions shape, emitting
    * fixed-width vectors ready for the Similarity operators.
    */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.grouped(DecodeBatchSize).flatMap {
        _.map(m => MediaFeatures(m.media_id, m.kind, Codec.features(m.payload)))
      }
    }
  }

  /** Resize stage: aspect-preserving fit into a target box — decode dims,
    * scale = min(targetW/w, targetH/h) capped at 1.0 (never upscale),
    * output byte estimate by area ratio. Same batched-mapPartitions shape
    * as decode; a real binding would hand the batch to the codec's scaler
    * here.
    */
  def resize(media: Dataset[MediaRow], targetW: Int, targetH: Int): Dataset[ResizedMedia] = {
    require(targetW > 0 && targetH > 0, s"resize box must be positive, got ${targetW}x$targetH")
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.grouped(DecodeBatchSize).flatMap {
        _.map { m =>
          val (w, h, _) = Codec.decode(m.payload)
          val scale = math.min(1.0, math.min(targetW.toDouble / w, targetH.toDouble / h))
          val ow = math.max(1, math.round(w * scale).toInt)
          val oh = math.max(1, math.round(h * scale).toInt)
          val bytes = math.max(1L, math.round(m.payload.length * scale * scale))
          ResizedMedia(m.media_id, m.kind, w, h, ow, oh, scale, bytes)
        }
      }
    }
  }

  /** Frame sampling for video rows: one row per sampled frame at `everyMs`
    * cadence — a pure Spark sequence/explode (no codec until frames are
    * decoded downstream). frame_bytes is the fake per-frame size share.
    */
  def sampleFrames(media: Dataset[MediaRow], everyMs: Long): DataFrame =
    media
      .filter(col("kind") === "video")
      // zero-duration media yields zero frames (an unguarded
      // sequence(0, -1, step) would throw under ANSI)
      .filter(col("meta.duration_ms") > 0)
      .select(
        col("media_id"),
        col("meta.duration_ms").as("duration_ms"),
        length(col("payload")).cast("long").as("n_bytes")
      )
      .withColumn("frame_ts_ms", explode(sequence(lit(0L), col("duration_ms") - 1, lit(everyMs))))
      .withColumn("frame_idx", (col("frame_ts_ms") / everyMs).cast("int"))
      .withColumn(
        "frame_bytes",
        (col("n_bytes") * everyMs / greatest(col("duration_ms"), lit(1L))).cast("long")
      )
      .select(col("media_id"), col("frame_idx"), col("frame_ts_ms"), col("frame_bytes"))

  // ---------------------------------------------------------------------------
  // Registry queries
  // ---------------------------------------------------------------------------

  /** q37 — decode summary per kind. The fake decode is arithmetic on payload
    * length/byte-sum, so DuckDB can replicate it → full oracle coverage of
    * the mapPartitions pipeline.
    */
  def q37MediaDecode(spark: SparkSession, dir: String): DataFrame =
    decode(mediaTable(spark, dir).repartition(col("media_id")))
      .groupBy(col("kind"))
      .agg(
        count(lit(1)).as("n_media"),
        round(avg(col("width")), 4).as("avg_width"),
        round(avg(col("height")), 4).as("avg_height"),
        sum(col("n_bytes")).as("total_bytes")
      )
      .orderBy(col("kind"))

  // q37's byte-sum decode is reproduced in DuckDB via codepoint sums over
  // the (verified-ASCII) corpus — see the oracle block below.

  /** q38 — frame sampling at 1 frame/sec: sequence+explode, oracle-able. */
  def q38FrameSample(spark: SparkSession, dir: String): DataFrame =
    sampleFrames(mediaTable(spark, dir), everyMs = 1000L)
      .orderBy(col("media_id"), col("frame_idx"))

  val q38Oracle: String =
    """WITH v AS (
      |  SELECT doc_id AS media_id,
      |         n_chars * 40 AS duration_ms,
      |         octet_length(encode(text)) AS n_bytes
      |  FROM documents
      |  WHERE ['image','audio','video'][(doc_id % 3 + 1)::INT] = 'video')
      |SELECT media_id,
      |       CAST(f // 1000 AS INT) AS frame_idx,
      |       f AS frame_ts_ms,
      |       CAST(n_bytes * 1000 // greatest(duration_ms, 1) AS BIGINT) AS frame_bytes
      |FROM v, unnest(range(0, duration_ms, 1000)) AS t(f)
      |ORDER BY media_id, frame_idx""".stripMargin

  /** q39 — feature extraction summary: per-kind mean feature-vector norm.
    * Oracle-checked (byte-histogram math reproduced in DuckDB with FLOAT
    * casts mirroring the codec's float32 accumulation); MultimodalSpec
    * additionally pins values against a direct JVM recomputation.
    */
  def q39MediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    extractFeatures(mediaTable(spark, dir))
      .withColumn(
        "l2",
        sqrt(expr("aggregate(features, 0D, (a, x) -> a + cast(x AS double) * cast(x AS double))"))
      )
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_media"), round(avg(col("l2")), 6).as("avg_feature_norm"))
      .orderBy(col("kind"))
  }

  /** q65 — resize summary per kind: media fit into a 224×224 box (the
    * ubiquitous vision-model input), average scale factor and output byte
    * volume. Oracle-checked (the fake decode's arithmetic is reproduced in
    * DuckDB); MultimodalSpec pins dims/scale/byte invariants.
    */
  def q65MediaResize(spark: SparkSession, dir: String): DataFrame =
    resize(mediaTable(spark, dir).repartition(col("media_id")), targetW = 224, targetH = 224)
      .groupBy(col("kind"))
      .agg(
        count(lit(1)).as("n_media"),
        round(avg(col("scale")), 6).as("avg_scale"),
        max(col("out_width")).as("max_out_width"),
        max(col("out_height")).as("max_out_height"),
        sum(col("resized_bytes")).as("total_resized_bytes")
      )
      .orderBy(col("kind"))

  // ---------------------------------------------------------------------------
  // q114 — image near-duplicate mining by banded perceptual hash: the
  // LAION-class image-dedup step (near-identical images under recompression
  // / light edits), run over the codec seam like every media op. aHash per
  // image from the batched fake decode (swap FakeCodec.aHash for a real
  // pHash over decoded pixels — plan shape unchanged), then candidate pairs
  // from BAND-BUCKET equality (8 bands x 8 bits) and an exact banded
  // hamming verify at tau = 6.
  //
  // The banding here is PROVABLY COMPLETE, not approximate: two hashes
  // within hamming distance 6 differ in at most 6 of 8 bands (pigeonhole),
  // so they collide on at least one band bucket and every qualifying pair
  // is surfaced — the RESULT equals the exact all-pairs computation, which
  // is why this LSH query can be fully oracle-gated (the DuckDB oracle does
  // the O(n^2) hamming join outright). Candidate-pruning honesty: a band
  // key is only 8 bits (256 buckets), so on uniformly-hashed images the
  // per-band self-join emits ~n^2/256 candidates — a 256x constant-factor
  // prune, not an asymptotic one. A production deployment widens the hash
  // (e.g. 256-bit pHash -> 16-bit bands = 65536 buckets, pigeonhole intact
  // for tau < 16); the 64-bit fake keeps the oracle and gate cheap while
  // exercising the identical plan shape.
  //
  // Band-bucket df honesty (the q115/q175 hot-fingerprint question asked
  // of this miner): band buckets here are deliberately NOT df-capped —
  // dropping a bucket breaks the pigeonhole completeness that IS this
  // query's contract (its oracle is the exact all-pairs join). The safety
  // valve is different in kind from the containment miners': a hot band
  // bucket (many all-black images sharing a band byte) inflates only the
  // CANDIDATE set, and every candidate is then cut by the exact hamming
  // verify — the output stays the true near-dup set, while q115/q175's
  // uncapped fp joins would have let boilerplate keys straight into the
  // OUTPUT's containment counts. At 100 TB the candidate blowup is still
  // real work, and there are two fixes: widen the hash so buckets are
  // 16-bit (65536-way — a capacity knob on the codec side, not a semantics
  // change in this plan), or serve q181 — the DF-CAPPED variant that
  // declares the hot-bucket exclusion as its contract (oracle included)
  // and keeps this query as the exact ground truth.
  // ---------------------------------------------------------------------------
  private val AHASH_TAU = 6

  /** q114's staged per-image band table, built once per (session, dir):
    * three readers per call (the candidate explode + both verify joins),
    * and q176/bench re-enter the miner repeatedly — the shingleStage
    * pattern applied to the media decode stage.
    */
  private[graft] val imageBands = Stage("q114_bands") { (spark, dir) =>
    imageBandsOf(Tables.balanced(Tables.documents(spark, dir))).localCheckpoint()
  }

  /** The per-image band table over ANY documents-shaped frame — per-item
    * LOCAL like the fingerprint stages, so the streaming maintainer hashes
    * each delta with this same code and the union of slices equals the
    * batch table.
    */
  private[graft] def imageBandsOf(docs: DataFrame): DataFrame = {
    val media = mediaTableOf(docs)
    val spark = media.sparkSession
    import spark.implicits._
    media
      .filter(col("kind") === lit("image") && length(col("payload")) >= 64)
      .mapPartitions { rows =>
        // per-partition batched, the decode-stage shape: codec opens once
        rows.grouped(DecodeBatchSize).flatMap(_.map(m => (m.media_id, Codec.aHash(m.payload))))
      }
      .toDF("media_id", "bands")
  }

  /** q114's banded mine + exact verify over a staged band table — shared
    * verbatim by q114 and q181. `capDf = Some(n)` is q181's mode: band BUCKETS carried by
    * more than n images are excluded from candidate generation (the
    * q115/q175 MOSS rule applied to the bucket join) — the pigeonhole
    * completeness guarantee is deliberately traded for bounded fan-out,
    * and the exclusion is replayed in the oracle, so the capped mode is
    * oracle-gated on its own declared semantics.
    */
  /** The hot (band, value) bucket set over a band-instance frame — the
    * MOSS df rule on image band BUCKETS, shared by q181's capped mine,
    * q156's cluster supply and q178's decontamination screen (hence the
    * q163/q172/q179/q182/StreamingDecontam image leg) so the exclusion
    * the oracles replay is one definition.
    */
  private[graft] def hotBandBuckets(inst: DataFrame, cap: Int): DataFrame =
    inst
      .groupBy(col("band"), col("bv"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > cap)
      .select(col("band"), col("bv"))

  private[graft] def imageNeardupFrom(hashed: DataFrame, capDf: Option[Int] = None): DataFrame = {
    val inst = hashed.select(col("media_id"), posexplode(col("bands")).as(Seq("band", "bv")))
    val minable = capDf match {
      case None => inst
      case Some(cap) => inst.join(hotBandBuckets(inst, cap), Seq("band", "bv"), "left_anti")
    }
    val cand = minable
      .as("l")
      .join(minable.as("r"), Seq("band", "bv"))
      .filter(col("l.media_id") < col("r.media_id"))
      .select(col("l.media_id").as("media_a"), col("r.media_id").as("media_b"))
      .distinct()
    cand
      .join(hashed.select(col("media_id").as("media_a"), col("bands").as("bands_a")), "media_a")
      .join(hashed.select(col("media_id").as("media_b"), col("bands").as("bands_b")), "media_b")
      .withColumn(
        "hamming",
        expr("CAST(aggregate(zip_with(bands_a, bands_b, (x, y) -> bit_count(x ^ y)), 0, (acc, v) -> acc + v) AS BIGINT)")
      )
      .filter(col("hamming") <= AHASH_TAU)
      .select(col("media_a"), col("media_b"), col("hamming"))
      .orderBy(col("media_a"), col("media_b"))
  }

  def q114ImageNeardup(spark: SparkSession, dir: String): DataFrame =
    imageNeardupFrom(imageBands(spark, dir))

  /** The aHash arithmetic replayed over the verified-ASCII corpus (bytes =
    * codepoints, the q37/q39 contract), then the exact all-pairs hamming
    * join the pigeonhole argument proves the banded plan equal to.
    */
  val q114Oracle: String =
    """WITH img AS (
      |  SELECT doc_id AS media_id, text,
      |         octet_length(encode(text)) AS n,
      |         CAST(ceil(octet_length(encode(text)) / 64.0) AS INT) AS w
      |  FROM documents
      |  WHERE ['image','audio','video'][(doc_id % 3 + 1)::INT] = 'image'
      |    AND octet_length(encode(text)) >= 64),
      |cells AS (
      |  SELECT media_id,
      |         list_transform(range(0, 64), c ->
      |           coalesce(list_sum(list_transform(list_filter(range(c*w + 1, (c+1)*w + 1), i -> i <= n),
      |                    i -> ascii(substring(text, i, 1)))), 0)) AS cells
      |  FROM img),
      |hb AS (
      |  SELECT media_id,
      |         list_transform(range(0, 8), b ->
      |           list_sum(list_transform(range(0, 8), j ->
      |             CASE WHEN cells[b*8 + j + 1] > list_sum(cells) / 64.0
      |                  THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END))) AS bands
      |  FROM cells)
      |SELECT l.media_id AS media_a, r.media_id AS media_b,
      |       CAST(list_sum(list_transform(range(1, 9), k -> bit_count(xor(l.bands[k], r.bands[k])))) AS BIGINT) AS hamming
      |FROM hb l JOIN hb r ON l.media_id < r.media_id
      |WHERE list_sum(list_transform(range(1, 9), k -> bit_count(xor(l.bands[k], r.bands[k])))) <= 6
      |ORDER BY media_a, media_b""".stripMargin

  /** q114's hash chain as a self-contained (media_id, bands) statement —
    * the splice q178/q181/q177's image legs nest as a derived table.
    */
  private[operators] lazy val q114BandsSql: String = {
    val chain = q114Oracle.substring(0, q114Oracle.indexOf("\nSELECT l.media_id"))
    chain + "\nSELECT media_id, bands FROM hb"
  }

  // ---------------------------------------------------------------------------
  // q181 — DF-CAPPED image near-dup mining: q114's banded aHash miner with
  // the q115/q175 MOSS rule applied to the BAND BUCKETS — a (band, value)
  // bucket carried by more than MEDIA_FP_MAXDF images (blank frames, logo
  // cards, single-color fills: the image boilerplate) is excluded from
  // candidate generation before the pair join, so a hot bucket can never
  // fan out quadratically. This is the 100-TB serving mode of q114: the
  // default q114 stays uncapped by contract (pigeonhole completeness IS
  // its exactness guarantee — see its header), and this variant DECLARES
  // the trade instead of hiding it — a pair that collides only in hot
  // buckets is dropped even if its true hamming is within tau, and the
  // oracle replays the identical exclusion, so the capped semantics are
  // themselves oracle-gated (the q30 candidate-replay discipline). The
  // q177 image_bands audit row is the observability half: how many
  // buckets are hot and how many images carry one. Since r16 this capped
  // supply is what every DERIVED consumer serves from — q156's clusters,
  // q176's profile leg, q178's decontamination screen and its
  // q163/q172/q179/q182/StreamingDecontam downstream — so no product a
  // pipeline actually runs at scale inherits the uncapped fan-out; q114
  // alone remains the declared-exact mine.
  //
  // Scale shape: one df rollup over the staged band instances (8 rows per
  // image), one left-anti prune, then q114's bucket equi-join and exact
  // verify restricted to rare buckets — every surviving bucket fans out
  // <= MEDIA_FP_MAXDF^2/2 candidate pairs.
  // ---------------------------------------------------------------------------
  def q181ImageNeardupCapped(spark: SparkSession, dir: String): DataFrame =
    imageNeardupFrom(imageBands(spark, dir), Some(MEDIA_FP_MAXDF))

  /** q181's verified capped pair frame as a stage — the edge supply
    * q156's clusters and q176's image leg read (the q101 lshEdges
    * precedent: the mined+verified pair set is the intermediate a pipeline
    * persists between mining and clustering, so its derived consumers must
    * not re-run the mine per read). q181 itself keeps paying the mine per
    * repetition — it IS the declared mine query.
    */
  private[graft] val cappedPairs =
    Stage("q181_pairs")((spark, dir) => q181ImageNeardupCapped(spark, dir).localCheckpoint())

  /** The audio/video verified pair frames as stages (the same contract as
    * [[cappedPairs]]): q176's dashboard reads all three miners per
    * repetition, and re-running the audio/video band joins per read is
    * exactly the re-mining the image leg already avoids. q175/q115 keep
    * paying their mines per repetition — they ARE the declared mine
    * queries.
    */
  private[graft] val audioPairs = Stage("q175_pairs")((spark, dir) => q175AudioNeardup(spark, dir).localCheckpoint())

  private[graft] val videoPairs = Stage("q115_pairs")((spark, dir) => q115VideoNeardup(spark, dir).localCheckpoint())

  /** q114's chain, the df rollup, the rare-bucket prune, then the same
    * candidate join + exact hamming verify over rare instances only.
    */
  lazy val q181Oracle: String =
    s"""WITH ib AS (SELECT media_id, bands FROM (
       |$q114BandsSql
       |)),
       |inst AS (
       |  SELECT media_id, CAST(b.range AS INT) AS band, bands[b.range + 1] AS bv
       |  FROM ib CROSS JOIN range(8) b),
       |bdf AS (SELECT band, bv, count(*) AS df FROM inst GROUP BY 1, 2),
       |ri AS (
       |  SELECT i.media_id, i.band, i.bv
       |  FROM inst i JOIN bdf USING (band, bv) WHERE bdf.df <= $MEDIA_FP_MAXDF),
       |cand AS (
       |  SELECT DISTINCT l.media_id AS media_a, r.media_id AS media_b
       |  FROM ri l JOIN ri r ON l.band = r.band AND l.bv = r.bv AND l.media_id < r.media_id)
       |SELECT c.media_a, c.media_b,
       |       CAST(list_sum(list_transform(range(1, 9), k -> bit_count(xor(a.bands[k], b.bands[k])))) AS BIGINT) AS hamming
       |FROM cand c JOIN ib a ON a.media_id = c.media_a JOIN ib b ON b.media_id = c.media_b
       |WHERE list_sum(list_transform(range(1, 9), k -> bit_count(xor(a.bands[k], b.bands[k])))) <= 6
       |ORDER BY media_a, media_b""".stripMargin

  // ---------------------------------------------------------------------------
  // q115 — video near-duplicate mining by frame-fingerprint containment: the
  // keyframe-fingerprint recipe for video corpora (a re-encoded / trimmed
  // copy shares most keyframe hashes with its source). Per-frame md5
  // fingerprints from the batched codec seam (swap for per-keyframe pHash,
  // plan unchanged), pairs from the fingerprint EQUI-JOIN (exact — no
  // banding needed: a shared frame is a shared hash), kept when the shared
  // count covers >= 50% of the smaller video's distinct DISCRIMINATIVE
  // fingerprints (see the df cap below).
  // Fully oracle-gated: the fingerprint is md5 over a payload slice, which
  // DuckDB replays as md5(substring(text, ...)) under the verified-ASCII
  // contract. Scale: shuffle keys are 32-byte hashes, and the pair join is
  // DF-CAPPED (q144's MOSS rule applied to media): a fingerprint carried
  // by more than MEDIA_FP_MAXDF items — digital silence, blank/black
  // frames, boilerplate intro cards — is dropped BEFORE pairing, so each
  // surviving key fans out <= MEDIA_FP_MAXDF^2/2 pairs and a hot key can
  // never go quadratic. The exclusion is the CONTRACT, not an
  // approximation: a frame shared by >100 videos identifies boilerplate,
  // not provenance — pairs whose every shared fingerprint is that common
  // are non-dup by construction, and containment is declared over the
  // discriminative (rare) fingerprint set on both sides (an item whose
  // every fingerprint is hot has no discriminative content and exits the
  // miner). The oracle applies the identical cap, and the planted hot-fp
  // spec pins both directions (hot excluded / rare still mined).
  // ---------------------------------------------------------------------------
  /** q144's WIN_MAXDF for the media miners — one shared constant so the
    * video/audio contracts can't drift apart.
    */
  private[graft] val MEDIA_FP_MAXDF = 100

  /** The rare-fingerprint table over any (media_id, fp) frame — the MOSS
    * df cap shared by q115/q175 (Dedup.winnowRare's exact shape).
    */
  private[graft] def rareMediaFps(inst: DataFrame): DataFrame =
    inst.join(
      inst
        .groupBy(col("fp"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") <= MEDIA_FP_MAXDF)
        .select(col("fp")),
      "fp"
    )

  /** q115's raw distinct fingerprint table over ANY documents-shaped frame
    * — per-item LOCAL (an item's fingerprints depend on nothing outside
    * it), so the streaming maintainer fingerprints each delta with this
    * same code and the union of slices equals the batch table (the
    * winnow maintainer's argument).
    */
  private[graft] def videoFpsRawOf(docs: DataFrame): DataFrame = {
    val media = mediaTableOf(docs)
    val spark = media.sparkSession
    import spark.implicits._
    media
      .filter(col("kind") === lit("video") && col("meta.duration_ms") > 0)
      .mapPartitions { rows =>
        rows.grouped(DecodeBatchSize).flatMap(_.flatMap { m =>
          FakeCodec.frameFingerprints(m.payload, m.meta.duration_ms).map(fp => (m.media_id, fp))
        })
      }
      .toDF("media_id", "fp")
      .distinct() // containment is over DISTINCT fingerprints per video
  }

  /** q115's staged RAW distinct fingerprint table (pre-cap), built once per
    * (session, dir): the decode pass runs once; the capped miner table and
    * the q177 boilerplate audit both derive from it.
    */
  private[graft] val videoFpsRaw = Stage("q115_fps_raw") { (spark, dir) =>
    videoFpsRawOf(Tables.balanced(Tables.documents(spark, dir))).localCheckpoint()
  }

  /** q115's staged df-capped fingerprint table — what nf + both pair sides
    * (plus q176/bench re-entries) read.
    */
  private[graft] val videoFps = Stage("q115_fps")((spark, dir) => rareMediaFps(videoFpsRaw(spark, dir)).localCheckpoint())

  /** The shared containment pair tail over a (df-capped) fingerprint
    * table: exact fp equi-join, >= 50% containment of the smaller side's
    * distinct rare fingerprints. Shared verbatim by q115/q175.
    */
  private[graft] def mediaNeardupFrom(inst: DataFrame, sharedName: String): DataFrame = {
    val nf = inst.groupBy(col("media_id")).agg(count(lit(1)).as("nf"))
    val sh = inst
      .as("l")
      .join(inst.as("r"), col("l.fp") === col("r.fp") && col("l.media_id") < col("r.media_id"))
      .groupBy(col("l.media_id").as("media_a"), col("r.media_id").as("media_b"))
      .agg(count(lit(1)).as(sharedName))
    sh.join(nf.select(col("media_id").as("media_a"), col("nf").as("nf_a")), "media_a")
      .join(nf.select(col("media_id").as("media_b"), col("nf").as("nf_b")), "media_b")
      .filter(col(sharedName).cast("double") / least(col("nf_a"), col("nf_b")) >= 0.5)
      .select(
        col("media_a"),
        col("media_b"),
        col(sharedName),
        expr(s"floor(CAST($sharedName AS DOUBLE) * 1e6 / least(nf_a, nf_b) + 5e-1) / 1e6").as("containment")
      )
      .orderBy(col("media_a"), col("media_b"))
  }

  def q115VideoNeardup(spark: SparkSession, dir: String): DataFrame =
    mediaNeardupFrom(videoFps(spark, dir), "shared_frames")

  /** The raw distinct (media_id, fp) video frame-fingerprint derivation —
    * ONE statement nested by both q115's pair oracle and q177's
    * boilerplate audit (the q163 splice rule: already margin-stripped,
    * concatenate only).
    */
  private val q115InstSql: String =
    """WITH v AS (
      |  SELECT doc_id AS media_id, text,
      |         octet_length(encode(text)) AS n,
      |         CAST(ceil((n_chars * 40) / 1000.0) AS INT) AS f
      |  FROM documents
      |  WHERE ['image','audio','video'][(doc_id % 3 + 1)::INT] = 'video'
      |    AND n_chars * 40 > 0),
      |wv AS (
      |  SELECT media_id, text, n, f,
      |         greatest(1, CAST(ceil(n / CAST(f AS DOUBLE)) AS INT)) AS w
      |  FROM v WHERE n > 0),
      |raw AS (
      |  SELECT media_id,
      |         unnest(list_transform(list_filter(range(0, f), i -> i * w < n),
      |                i -> md5(substring(text, i*w + 1, w)))) AS fp
      |  FROM wv)
      |SELECT DISTINCT media_id, fp FROM raw""".stripMargin

  val q115Oracle: String = {
    val tail =
      s"""),
        |rare AS (SELECT fp FROM inst0 GROUP BY fp HAVING count(*) <= $MEDIA_FP_MAXDF),
        |inst AS (SELECT media_id, inst0.fp FROM inst0 JOIN rare USING (fp)),
        |nf AS (SELECT media_id, count(*) AS nf FROM inst GROUP BY 1),
        |sh AS (
        |  SELECT l.media_id AS media_a, r.media_id AS media_b, count(*) AS shared_frames
        |  FROM inst l JOIN inst r ON l.fp = r.fp AND l.media_id < r.media_id
        |  GROUP BY 1, 2)
        |SELECT media_a, media_b,
        |       CAST(shared_frames AS BIGINT) AS shared_frames,
        |       floor(CAST(shared_frames AS DOUBLE) * 1e6 / least(a.nf, b.nf) + 5e-1) / 1e6 AS containment
        |FROM sh JOIN nf a ON sh.media_a = a.media_id JOIN nf b ON sh.media_b = b.media_id
        |WHERE CAST(shared_frames AS DOUBLE) / least(a.nf, b.nf) >= 0.5
        |ORDER BY media_a, media_b""".stripMargin
    "WITH inst0 AS (\n" + q115InstSql + "\n" + tail
  }

  // ---------------------------------------------------------------------------
  // q175 — audio near-duplicate mining by energy-shingle fingerprints: the
  // chromaprint-style recipe scaled down to the codec seam — per audio the
  // energy envelope (q116's windows; a real pipeline substitutes chroma
  // features, plan unchanged), every 4 consecutive energies hashed into a
  // fingerprint, pairs from the exact fingerprint EQUI-JOIN kept at >= 50%
  // containment of the smaller side's distinct fingerprints (q115's
  // containment tail verbatim). Completes the multimodal dedup matrix:
  // q114/q156 image, q115 video, q175 audio. Shingling (not per-window
  // hashing) is what makes the fingerprint discriminative — single window
  // energies are small integers that collide everywhere; a 4-gram ties
  // them to their local sequence.
  //
  // Fully oracle-gated: energies replay as ascii-sum windows (q116's
  // contract) and the shingle is string concatenation of exact integers,
  // so DuckDB derives the identical md5 keys. Scale: shuffle keys are
  // 32-byte hashes; the pair stage is a keyed equi-join, never all-pairs
  // (the q71/q115 shape), and — like q115 — DF-CAPPED at MEDIA_FP_MAXDF
  // (q144's MOSS rule): a shingle carried by >100 audios is boilerplate
  // (digital silence, shared jingles) and is excluded from both the pair
  // join and the containment denominators by contract, so a hot key can
  // never go quadratic. Pinned by the planted hot-fp spec.
  // ---------------------------------------------------------------------------
  /** q175's raw distinct fingerprint table over ANY documents-shaped frame
    * — per-item LOCAL like [[videoFpsRawOf]] (the energy-shingle window
    * partitions by media_id, so a delta's shingles never see another
    * item).
    */
  private[graft] def audioFpsRawOf(docs: DataFrame): DataFrame = {
    val media = mediaTableOf(docs)
    val spark = media.sparkSession
    import spark.implicits._
    val win = media
      .filter(col("kind") === lit("audio") && length(col("payload")) > 0)
      .mapPartitions { rows =>
        rows.grouped(DecodeBatchSize).flatMap(_.flatMap { m =>
          Codec.energyWindows(m.payload).zipWithIndex.map { case (e, i) => (m.media_id, i, e) }
        })
      }
      .toDF("media_id", "idx", "energy")
    val wSeq = Window.partitionBy(col("media_id")).orderBy(col("idx"))
    win
      .withColumn("e1", lead(col("energy"), 1).over(wSeq))
      .withColumn("e2", lead(col("energy"), 2).over(wSeq))
      .withColumn("e3", lead(col("energy"), 3).over(wSeq))
      .filter(col("e3").isNotNull)
      .select(col("media_id"), md5(concat_ws("_", col("energy"), col("e1"), col("e2"), col("e3"))).as("fp"))
      .distinct() // containment is over DISTINCT fingerprints per audio
  }

  /** q175's staged RAW distinct fingerprint table (pre-cap) — q115's
    * staging pattern over the audio energy shingles; feeds the capped
    * miner table and the q177 boilerplate audit.
    */
  private[graft] val audioFpsRaw = Stage("q175_fps_raw") { (spark, dir) =>
    audioFpsRawOf(Tables.balanced(Tables.documents(spark, dir))).localCheckpoint()
  }

  /** q175's staged df-capped fingerprint table (the q115 shape). */
  private[graft] val audioFps = Stage("q175_fps")((spark, dir) => rareMediaFps(audioFpsRaw(spark, dir)).localCheckpoint())

  def q175AudioNeardup(spark: SparkSession, dir: String): DataFrame =
    mediaNeardupFrom(audioFps(spark, dir), "shared_fps")

  /** The raw distinct (media_id, fp) audio energy-shingle derivation —
    * nested by q175's pair oracle and q177's audit (q115's pattern).
    */
  private val q175InstSql: String =
    """WITH a AS (
      |  SELECT doc_id AS media_id, text, octet_length(encode(text)) AS n
      |  FROM documents
      |  WHERE ['image','audio','video'][(doc_id % 3 + 1)::INT] = 'audio'
      |    AND octet_length(encode(text)) > 0),
      |win AS (
      |  SELECT media_id,
      |         unnest(list_transform(range(0, CAST(ceil(n / 50.0) AS INT)), c -> c)) AS idx,
      |         unnest(list_transform(range(0, CAST(ceil(n / 50.0) AS INT)), c ->
      |           coalesce(list_sum(list_transform(list_filter(range(c*50 + 1, (c+1)*50 + 1), i -> i <= n),
      |                    i -> ascii(substring(text, i, 1)))), 0))) AS energy
      |  FROM a),
      |es AS (SELECT media_id, list(energy ORDER BY idx) AS e FROM win GROUP BY 1),
      |fp0 AS (
      |  SELECT media_id,
      |         unnest(list_transform(range(1, len(e) - 2), i ->
      |           md5(CAST(e[i] AS VARCHAR) || '_' || CAST(e[i+1] AS VARCHAR) || '_' ||
      |               CAST(e[i+2] AS VARCHAR) || '_' || CAST(e[i+3] AS VARCHAR)))) AS fp
      |  FROM es WHERE len(e) >= 4)
      |SELECT DISTINCT media_id, fp FROM fp0""".stripMargin

  val q175Oracle: String = {
    val tail =
      s"""),
        |rare AS (SELECT fp FROM inst0 GROUP BY fp HAVING count(*) <= $MEDIA_FP_MAXDF),
        |inst AS (SELECT media_id, inst0.fp FROM inst0 JOIN rare USING (fp)),
        |nf AS (SELECT media_id, count(*) AS nf FROM inst GROUP BY 1),
        |sh AS (
        |  SELECT l.media_id AS media_a, r.media_id AS media_b, count(*) AS shared_fps
        |  FROM inst l JOIN inst r ON l.fp = r.fp AND l.media_id < r.media_id
        |  GROUP BY 1, 2)
        |SELECT media_a, media_b,
        |       CAST(shared_fps AS BIGINT) AS shared_fps,
        |       floor(CAST(shared_fps AS DOUBLE) * 1e6 / least(a.nf, b.nf) + 5e-1) / 1e6 AS containment
        |FROM sh JOIN nf a ON sh.media_a = a.media_id JOIN nf b ON sh.media_b = b.media_id
        |WHERE CAST(shared_fps AS DOUBLE) / least(a.nf, b.nf) >= 0.5
        |ORDER BY media_a, media_b""".stripMargin
    "WITH inst0 AS (\n" + q175InstSql + "\n" + tail
  }

  // ---------------------------------------------------------------------------
  // q176 — media DEDUP PROFILE: the q117 dashboard pattern applied to the
  // multimodal pillar — per media kind the near-dup exposure in one frame
  // (how many items, how many sit in at least one verified near-dup pair,
  // how many pairs), composing the three per-kind SERVING miners (image
  // q181, audio q175, video q115 — all three df-capped since r16, so the
  // dashboard itself can never go quadratic on a boilerplate frame) the
  // way a curator reads them before deciding which modality needs a dedup
  // pass. Legs ARE the leg queries (shared code); each leg's pair frame
  // collapses in ONE aggregate — pair members exploded, count/2 = pairs,
  // distinct = paired items — so the profile adds two bounded rollups on
  // top of the miners' own plans.
  // ---------------------------------------------------------------------------
  // ---------------------------------------------------------------------------
  // q177 — media BOILERPLATE FINGERPRINT audit: what the q115/q175 df cap
  // actually excluded — per kind, how many distinct fingerprints exist,
  // how many are hot (df > MEDIA_FP_MAXDF: silence, blank frames, shared
  // jingles/intros), the share, how many items carry at least one hot
  // fingerprint, and the hottest key's df. This is the observability half
  // of the cap's contract: the miners DROP boilerplate keys by
  // construction, and this table is where a curator sees how much
  // boilerplate a corpus has before trusting the miners' containment
  // numbers (the q163-style "decision needs its audit" pattern). Since
  // r15 the image BAND BUCKETS are audited too (kind 'image_bands', key =
  // band:value): the default q114 stays uncapped by contract (pigeonhole
  // completeness — see its header), but q181's capped mode — and, since
  // r16, every derived consumer of the band buckets (q156/q176/q178 and
  // the decontamination image leg) — excludes hot buckets, and this row
  // is where the dropped band mass is visible.
  //
  // Scale shape: per kind one df rollup over the staged raw fingerprint
  // table plus three 1-row aggregates (broadcast crossJoins — whitelisted);
  // the hot join probes only df>cap keys. Empty-corpus contract: legs are
  // global aggregates, so each kind emits one all-zero row (shares NULL —
  // CASE-guarded, the ANSI rule) in both engines.
  // ---------------------------------------------------------------------------
  def q177MediaBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ONE unioned instance frame with a kind column, so the df rollup, the
    // grid stats, and the per-item affected counts each run once grouped by
    // kind instead of three times per leg — and the (kind, fp) exchange
    // under the df rollup is reused by the affected-items join (guide §2.4:
    // the old shape paid 9 one-row aggregates and 6 broadcast crossJoins).
    // A literal kind spine left-joins the rollups so an empty corpus still
    // emits one all-zero row per kind (shares NULL), the declared contract.
    val inst = audioFpsRaw(spark, dir)
      .withColumn("kind", lit("audio"))
      .unionByName(imageBandInstancesOf(imageBands(spark, dir)).withColumn("kind", lit("image_bands")))
      .unionByName(videoFpsRaw(spark, dir).withColumn("kind", lit("video")))
    val df = inst.groupBy(col("kind"), col("fp")).agg(count(lit(1)).as("df"))
    val grid = df
      .groupBy(col("kind"))
      .agg(
        count(lit(1)).as("n_fps"),
        coalesce(sum(when(col("df") > MEDIA_FP_MAXDF, 1L).otherwise(0L)), lit(0L)).as("n_hot_fps"),
        max(col("df")).as("max_df")
      )
    val items = inst
      .join(df, Seq("kind", "fp"))
      .groupBy(col("kind"))
      .agg(
        countDistinct(col("media_id")).as("n_items"),
        countDistinct(when(col("df") > MEDIA_FP_MAXDF, col("media_id"))).as("n_items_affected")
      )
    Seq("audio", "image_bands", "video")
      .toDF("kind")
      .join(grid, Seq("kind"), "left")
      .join(items, Seq("kind"), "left")
      .select(
        col("kind"),
        coalesce(col("n_items"), lit(0L)).as("n_items"),
        coalesce(col("n_fps"), lit(0L)).as("n_fps"),
        coalesce(col("n_hot_fps"), lit(0L)).as("n_hot_fps"),
        coalesce(col("n_items_affected"), lit(0L)).as("n_items_affected"),
        col("max_df")
      )
      .select(
        col("kind"),
        col("n_items"),
        col("n_fps"),
        col("n_hot_fps"),
        expr("CASE WHEN n_fps = 0 THEN NULL ELSE floor(CAST(n_hot_fps AS DOUBLE) * 1e6 / n_fps + 5e-1) / 1e6 END")
          .as("hot_fp_share"),
        col("n_items_affected"),
        expr(
          "CASE WHEN n_items = 0 THEN NULL ELSE floor(CAST(n_items_affected AS DOUBLE) * 1e6 / n_items + 5e-1) / 1e6 END"
        ).as("affected_share"),
        col("max_df")
      )
      .orderBy(col("kind"))
  }

  /** q114's (media_id, bands) table exploded to per-bucket instances with
    * the audit's `band:value` key encoding — one definition for q177 and
    * q183.
    */
  private[graft] def imageBandInstancesOf(bands: DataFrame): DataFrame =
    bands
      .select(col("media_id"), posexplode(col("bands")).as(Seq("band", "bv")))
      .select(col("media_id"), concat(col("band").cast("string"), lit(":"), col("bv").cast("string")).as("fp"))

  // ---------------------------------------------------------------------------
  // q183 — media boilerplate LEDGER: the per-KEY drill-down of q177's
  // per-kind aggregate — for each kind the LEDGER_TOP_N hottest
  // fingerprint keys (df desc, key asc) with their carrier count, how many
  // distinct sources carry them, the dominant source (the "whose logo
  // card / intro jingle is this" attribution — boilerplate is almost
  // always source-concentrated), and the candidate-pair mass the df cap
  // drops for keys over it (df·(df−1)/2 — the exact quantity whose
  // exclusion makes q115/q175/q181 scale, here made legible per key).
  // q177 says HOW MUCH boilerplate a corpus has; this says WHICH keys and
  // WHOSE, the read before tuning MEDIA_FP_MAXDF or filing a bug against
  // a source's ingestion.
  //
  // Scale shape: per kind one (fp, source) rollup over the staged raw
  // instance table, one fp rollup (dominant source via the fixed-width
  // max-encode, deterministic in both engines), then a DISTRIBUTED top-N
  // per leg (orderBy+limit → TakeOrderedAndProject — never a corpus-wide
  // row_number window: at 100 TB distinct fingerprints are billions and a
  // per-kind window would single-thread them). The rank column is
  // assigned by a window over the <= 3·N surviving rows — bounded.
  // Empty-corpus contract: no keys, no rows, both engines.
  // ---------------------------------------------------------------------------
  private[graft] val LEDGER_TOP_N = 20

  def q183MediaHotLedger(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val audio = audioFpsRaw(spark, dir)
    val imageBandInst = imageBandInstancesOf(imageBands(spark, dir))
    val video = videoFpsRaw(spark, dir)
    val src = Tables
      .balanced(Tables.documents(spark, dir))
      .select(col("doc_id").as("media_id"), col("source"))
    def leg(kind: String, raw: DataFrame): DataFrame = {
      val perSrc = raw.join(src, "media_id").groupBy(col("fp"), col("source")).agg(count(lit(1)).as("cnt"))
      perSrc
        .groupBy(col("fp"))
        .agg(
          sum(col("cnt")).cast("long").as("df"),
          count(lit(1)).cast("long").as("n_sources"),
          max(concat(lpad(col("cnt").cast("string"), 19, "0"), col("source"))).as("enc")
        )
        .select(lit(kind).as("kind"), col("fp"), col("df"), col("n_sources"), expr("substring(enc, 20)").as("top_source"))
        .orderBy(col("df").desc, col("fp"))
        .limit(LEDGER_TOP_N)
    }
    val all = leg("audio", audio)
      .unionByName(leg("image_bands", imageBandInst))
      .unionByName(leg("video", video))
    // rank over the <= 3*N kept rows only — bounded window by construction
    val w = Window.partitionBy(col("kind")).orderBy(col("df").desc, col("fp"))
    all
      .withColumn("rank", row_number().over(w).cast("int"))
      .withColumn(
        "dropped_pairs",
        when(col("df") > MEDIA_FP_MAXDF, expr("df * (df - 1) div 2")).otherwise(lit(0L)).cast("long")
      )
      .select(col("kind"), col("rank"), col("fp"), col("df"), col("n_sources"), col("top_source"), col("dropped_pairs"))
      .orderBy(col("kind"), col("rank"))
  }

  /** The three instance SQLs nested (the q177 splices), a (fp, source)
    * rollup per kind, the fixed-width dominant-source encode, then the
    * identical top-N per kind via QUALIFY.
    */
  lazy val q183Oracle: String = {
    val head = "WITH ai AS (SELECT media_id, fp FROM ("
    val mid =
      """)),
        |vi AS (SELECT media_id, fp FROM (""".stripMargin
    val midImg =
      """)),
        |ib AS (SELECT media_id, bands FROM (""".stripMargin
    val tail =
      s""")),
        |ii AS (
        |  SELECT media_id, CAST(b.range AS VARCHAR) || ':' || CAST(bands[b.range + 1] AS VARCHAR) AS fp
        |  FROM ib CROSS JOIN range(8) b),
        |src AS (SELECT doc_id AS media_id, source FROM documents),
        |u AS (
        |  SELECT 'audio' AS kind, fp, media_id FROM ai
        |  UNION ALL SELECT 'image_bands', fp, media_id FROM ii
        |  UNION ALL SELECT 'video', fp, media_id FROM vi),
        |ps AS (
        |  SELECT kind, fp, source, count(*) AS cnt
        |  FROM u JOIN src USING (media_id) GROUP BY 1, 2, 3),
        |agg AS (
        |  SELECT kind, fp, sum(cnt) AS df, count(*) AS n_sources,
        |         max(lpad(CAST(cnt AS VARCHAR), 19, '0') || source) AS enc
        |  FROM ps GROUP BY 1, 2),
        |rk AS (
        |  SELECT kind, fp, df, n_sources, enc,
        |         row_number() OVER (PARTITION BY kind ORDER BY df DESC, fp) AS rank
        |  FROM agg)
        |SELECT kind, CAST(rank AS INT) AS rank, fp, CAST(df AS BIGINT) AS df,
        |       CAST(n_sources AS BIGINT) AS n_sources,
        |       substring(enc, 20) AS top_source,
        |       CAST(CASE WHEN df > $MEDIA_FP_MAXDF THEN (df * (df - 1)) // 2 ELSE 0 END AS BIGINT) AS dropped_pairs
        |FROM rk WHERE rank <= $LEDGER_TOP_N
        |ORDER BY kind, rank""".stripMargin
    head + "\n" + q175InstSql + "\n" + mid + "\n" + q115InstSql + "\n" + midImg + "\n" + q114BandsSql + "\n" + tail
  }

  /** All three kinds' raw-instance SQL nested as derived tables (the q163
    * splice rule — audio/video fingerprint instances, image band
    * instances off the q114 chain), then scalar-subquery legs over their
    * df rollups.
    */
  lazy val q177Oracle: String = {
    val head = "WITH ai AS (SELECT media_id, fp FROM ("
    val mid =
      """)),
        |vi AS (SELECT media_id, fp FROM (""".stripMargin
    val midImg =
      """)),
        |ib AS (SELECT media_id, bands FROM (""".stripMargin
    val tail =
      s""")),
        |ii AS (
        |  SELECT media_id, CAST(b.range AS VARCHAR) || ':' || CAST(bands[b.range + 1] AS VARCHAR) AS fp
        |  FROM ib CROSS JOIN range(8) b),
        |adf AS (SELECT fp, count(*) AS df FROM ai GROUP BY 1),
        |vdf AS (SELECT fp, count(*) AS df FROM vi GROUP BY 1),
        |idf AS (SELECT fp, count(*) AS df FROM ii GROUP BY 1),
        |legs AS (
        |  SELECT 'audio' AS kind,
        |         (SELECT count(DISTINCT media_id) FROM ai) AS n_items,
        |         (SELECT count(*) FROM adf) AS n_fps,
        |         (SELECT coalesce(sum(CASE WHEN df > $MEDIA_FP_MAXDF THEN 1 ELSE 0 END), 0) FROM adf) AS n_hot_fps,
        |         (SELECT count(DISTINCT media_id) FROM ai JOIN adf USING (fp) WHERE df > $MEDIA_FP_MAXDF) AS n_items_affected,
        |         (SELECT max(df) FROM adf) AS max_df
        |  UNION ALL
        |  SELECT 'image_bands',
        |         (SELECT count(DISTINCT media_id) FROM ii),
        |         (SELECT count(*) FROM idf),
        |         (SELECT coalesce(sum(CASE WHEN df > $MEDIA_FP_MAXDF THEN 1 ELSE 0 END), 0) FROM idf),
        |         (SELECT count(DISTINCT media_id) FROM ii JOIN idf USING (fp) WHERE df > $MEDIA_FP_MAXDF),
        |         (SELECT max(df) FROM idf)
        |  UNION ALL
        |  SELECT 'video',
        |         (SELECT count(DISTINCT media_id) FROM vi),
        |         (SELECT count(*) FROM vdf),
        |         (SELECT coalesce(sum(CASE WHEN df > $MEDIA_FP_MAXDF THEN 1 ELSE 0 END), 0) FROM vdf),
        |         (SELECT count(DISTINCT media_id) FROM vi JOIN vdf USING (fp) WHERE df > $MEDIA_FP_MAXDF),
        |         (SELECT max(df) FROM vdf))
        |SELECT kind, CAST(n_items AS BIGINT) AS n_items, CAST(n_fps AS BIGINT) AS n_fps,
        |       CAST(n_hot_fps AS BIGINT) AS n_hot_fps,
        |       CASE WHEN n_fps = 0 THEN NULL ELSE floor(CAST(n_hot_fps AS DOUBLE) * 1e6 / n_fps + 5e-1) / 1e6 END AS hot_fp_share,
        |       CAST(n_items_affected AS BIGINT) AS n_items_affected,
        |       CASE WHEN n_items = 0 THEN NULL ELSE floor(CAST(n_items_affected AS DOUBLE) * 1e6 / n_items + 5e-1) / 1e6 END AS affected_share,
        |       CAST(max_df AS BIGINT) AS max_df
        |FROM legs ORDER BY kind""".stripMargin
    head + "\n" + q175InstSql + "\n" + mid + "\n" + q115InstSql + "\n" + midImg + "\n" + q114BandsSql + "\n" + tail
  }

  /** The decoded image feature table as a stage: q161's alignment screen
    * re-ran the whole image decode stage per repetition — the one part of
    * its plan the scale notes call the dominant cost. q39 (the declared
    * extraction query) stays fresh per repetition.
    */
  private[graft] val imageFeatures = Stage("q161_features") { (spark, dir) =>
    extractFeatures(mediaTable(spark, dir).filter(col("kind") === lit("image"))).toDF().localCheckpoint()
  }

  def q176MediaDedupProfile(spark: SparkSession, dir: String): DataFrame = {
    val totals = mediaTable(spark, dir).groupBy(col("kind")).agg(count(lit(1)).as("n_media"))
    // all three pair supplies are stages (see the cappedPairs/audioPairs
    // docs), and the three per-leg one-row aggregates fuse into ONE
    // kind-grouped aggregate over their tagged union (guide §2.4)
    def tagged(kind: String, pairs: DataFrame): DataFrame =
      pairs.select(lit(kind).as("kind"), col("media_a"), col("media_b"))
    val legs = tagged("image", cappedPairs(spark, dir))
      .unionByName(tagged("audio", audioPairs(spark, dir)))
      .unionByName(tagged("video", videoPairs(spark, dir)))
      .select(col("kind"), explode(array(col("media_a"), col("media_b"))).as("m"))
      .groupBy(col("kind"))
      .agg(
        expr("count(1) div 2").as("n_pairs"),
        countDistinct(col("m")).as("n_paired")
      )
    totals
      .join(legs, Seq("kind"), "left")
      .select(
        col("kind"),
        col("n_media"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_paired"), lit(0L)).as("n_paired"),
        expr("floor(CAST(coalesce(n_paired, 0) AS DOUBLE) * 1e6 / n_media + 5e-1) / 1e6").as("paired_frac")
      )
      .orderBy(col("kind"))
  }

  /** Each miner's oracle nested as a derived table (the q163 splice rule). */
  lazy val q176Oracle: String = {
    val head =
      """WITH tot AS (
        |  SELECT ['image','audio','video'][(doc_id % 3 + 1)::INT] AS kind, count(*) AS n_media
        |  FROM documents GROUP BY 1),
        |ip AS (SELECT media_a, media_b FROM (""".stripMargin
    val afterImage =
      """)),
        |ap AS (SELECT media_a, media_b FROM (""".stripMargin
    val afterAudio =
      """)),
        |vp AS (SELECT media_a, media_b FROM (""".stripMargin
    val tail =
      """)),
        |legs AS (
        |  SELECT 'image' AS kind, count(*) // 2 AS n_pairs, count(DISTINCT m) AS n_paired
        |  FROM (SELECT media_a AS m FROM ip UNION ALL SELECT media_b FROM ip)
        |  UNION ALL
        |  SELECT 'audio', count(*) // 2, count(DISTINCT m)
        |  FROM (SELECT media_a AS m FROM ap UNION ALL SELECT media_b FROM ap)
        |  UNION ALL
        |  SELECT 'video', count(*) // 2, count(DISTINCT m)
        |  FROM (SELECT media_a AS m FROM vp UNION ALL SELECT media_b FROM vp))
        |SELECT tot.kind, CAST(n_media AS BIGINT) AS n_media,
        |       CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
        |       CAST(coalesce(n_paired, 0) AS BIGINT) AS n_paired,
        |       floor(CAST(coalesce(n_paired, 0) AS DOUBLE) * 1e6 / n_media + 5e-1) / 1e6 AS paired_frac
        |FROM tot LEFT JOIN legs USING (kind)
        |ORDER BY tot.kind""".stripMargin
    head + "\n" + q181Oracle + "\n" + afterImage + "\n" + q175Oracle + "\n" + afterAudio + "\n" +
      q115Oracle + "\n" + tail
  }

  // ---------------------------------------------------------------------------
  // q116 — audio activity segmentation: the VAD-shaped preprocessing a
  // speech-data pipeline runs before transcription/filtering — an energy
  // envelope per audio (50-byte windows from the batched codec seam; a real
  // codec RMSes decoded PCM), windows marked ACTIVE when their energy
  // exceeds the audio's mean, maximal runs of active windows merged into
  // segments (the q110 gaps-and-islands machinery on window indexes). The
  // active test is the integer cross-multiply `energy * n_windows > total`
  // — no division anywhere, so both engines compare exact integers.
  // Per-audio report: window/active/segment counts, longest segment,
  // active fraction. Fully oracle-gated via ascii-sum replay.
  // ---------------------------------------------------------------------------
  def q116AudioActivity(spark: SparkSession, dir: String): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    val win = mediaTable(spark, dir)
      .filter(col("kind") === lit("audio") && length(col("payload")) > 0)
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.grouped(DecodeBatchSize).flatMap(_.flatMap { m =>
          Codec.energyWindows(m.payload).zipWithIndex.map { case (e, i) => (m.media_id, i, e) }
        })
      }
      .toDF("media_id", "idx", "energy")
      .localCheckpoint()
    val totals = win.groupBy(col("media_id")).agg(count(lit(1)).as("n_windows"), sum(col("energy")).as("total"))
    val active = win
      .join(totals, "media_id")
      .withColumn("is_active", col("energy") * col("n_windows") > col("total"))
    val wSeen = Window.partitionBy(col("media_id")).orderBy(col("idx")).rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window
      .partitionBy(col("media_id"))
      .orderBy(col("idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val segs = active
      .filter(col("is_active"))
      .withColumn("brk", when(col("idx") > coalesce(max(col("idx")).over(wSeen), lit(-2)) + 1, 1).otherwise(0))
      .withColumn("seg", sum(col("brk")).over(wRun))
      .groupBy(col("media_id"), col("seg"))
      .agg(count(lit(1)).as("seg_len"))
      .groupBy(col("media_id"))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(col("seg_len")).cast("long").as("n_active"),
        max(col("seg_len")).cast("long").as("longest_segment")
      )
    totals
      .join(segs, Seq("media_id"), "left")
      .select(
        col("media_id"),
        col("n_windows"),
        coalesce(col("n_active"), lit(0L)).as("n_active"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("longest_segment"), lit(0L)).as("longest_segment"),
        expr("floor(CAST(coalesce(n_active, 0) AS DOUBLE) * 1e6 / n_windows + 5e-1) / 1e6").as("active_frac")
      )
      .orderBy(col("media_id"))
  }

  val q116Oracle: String =
    """WITH a AS (
      |  SELECT doc_id AS media_id, text, octet_length(encode(text)) AS n
      |  FROM documents
      |  WHERE ['image','audio','video'][(doc_id % 3 + 1)::INT] = 'audio'
      |    AND octet_length(encode(text)) > 0),
      |win AS (
      |  SELECT media_id,
      |         unnest(list_transform(range(0, CAST(ceil(n / 50.0) AS INT)), c -> c)) AS idx,
      |         unnest(list_transform(range(0, CAST(ceil(n / 50.0) AS INT)), c ->
      |           coalesce(list_sum(list_transform(list_filter(range(c*50 + 1, (c+1)*50 + 1), i -> i <= n),
      |                    i -> ascii(substring(text, i, 1)))), 0))) AS energy
      |  FROM a),
      |tot AS (SELECT media_id, count(*) AS n_windows, sum(energy) AS total FROM win GROUP BY 1),
      |act AS (
      |  SELECT win.media_id, idx
      |  FROM win JOIN tot USING (media_id)
      |  WHERE energy * n_windows > total),
      |brk AS (
      |  SELECT media_id, idx,
      |         CASE WHEN idx > coalesce(max(idx) OVER (PARTITION BY media_id ORDER BY idx
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1 THEN 1 ELSE 0 END AS b
      |  FROM act),
      |isl AS (
      |  SELECT media_id, idx,
      |         sum(b) OVER (PARTITION BY media_id ORDER BY idx
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
      |  FROM brk),
      |segs AS (SELECT media_id, seg, count(*) AS seg_len FROM isl GROUP BY 1, 2),
      |per AS (
      |  SELECT media_id, count(*) AS n_segments, sum(seg_len) AS n_active, max(seg_len) AS longest_segment
      |  FROM segs GROUP BY 1)
      |SELECT tot.media_id,
      |       CAST(n_windows AS BIGINT) AS n_windows,
      |       CAST(coalesce(n_active, 0) AS BIGINT) AS n_active,
      |       CAST(coalesce(n_segments, 0) AS BIGINT) AS n_segments,
      |       CAST(coalesce(longest_segment, 0) AS BIGINT) AS longest_segment,
      |       floor(CAST(coalesce(n_active, 0) AS DOUBLE) * 1e6 / n_windows + 5e-1) / 1e6 AS active_frac
      |FROM tot LEFT JOIN per ON tot.media_id = per.media_id
      |ORDER BY tot.media_id""".stripMargin

  // ---------------------------------------------------------------------------
  // q156 — image duplicate CLUSTERS: connected components over the
  // DF-CAPPED image near-dup pair graph (q181's supply), through the SAME
  // parametrized propagation loop the text dedup stack uses
  // (Dedup.clustersFrom — q61/q101/q108's machinery, one more edge
  // supply). The LAION-class image-dedup pipeline ends here: mine pairs,
  // close them transitively, keep one representative per component — a
  // re-encoded image chain (A~B~C where A,C differ by >6 bits) lands in
  // ONE cluster, which the pair list alone cannot say. Cluster label =
  // min media_id, the q61 convention.
  //
  // Since r16 the pair supply is q181's capped mine, NOT uncapped q114:
  // a real pipeline's cluster pass is exactly where a mass-duplicated
  // blank frame or logo card (a hot band bucket) would fan the bucket
  // join out quadratically at 100 TB, so the serving path takes q181's
  // declared trade — pairs colliding only in hot buckets are dropped
  // before clustering (they identify boilerplate, not provenance; a
  // 10^6-copy blank frame does not need a 10^12-edge cluster to be
  // dropped — the q177 image_bands audit row is where that mass shows).
  // The exclusion is replayed in the oracle (the q30 candidate-replay
  // discipline), so the capped clusters are hash-gated on their own
  // declared semantics; q114 itself stays uncapped by contract.
  // ---------------------------------------------------------------------------
  def q156ImageDupClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup
      .clustersFrom(
        cappedPairs(spark, dir)
          .select(col("media_a").as("doc_a"), col("media_b").as("doc_b"))
      )
      .select(col("doc_id").as("media_id"), col("cluster"), col("cluster_size"))
      .orderBy(col("cluster"), col("media_id"))

  lazy val q156Oracle: String = {
    // q181's capped pair statement nested whole as the edge supply (its
    // own WITH scope — the q163 splice rule), then the q61 recursive walk
    "WITH RECURSIVE pairs AS (\n  SELECT media_a AS doc_a, media_b AS doc_b FROM (\n" +
      q181Oracle + "\n)),\n" +
      """edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL
        |  SELECT doc_b, doc_a FROM pairs),
        |walk(node, label) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node),
        |labels AS (SELECT node, min(label) AS cluster FROM walk GROUP BY node),
        |sizes AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size FROM labels GROUP BY cluster)
        |SELECT l.node AS media_id, l.cluster AS cluster, s.cluster_size
        |FROM labels l JOIN sizes s USING (cluster)
        |ORDER BY cluster, media_id""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q178 — image DECONTAMINATION screen: which TRAIN-split images are
  // near-duplicates of HELD-OUT (test-bucket) images — the multimodal leg
  // of the decontamination family (q67/q166 text n-grams, q113 near-dup
  // text, q152 verbatim spans; this is the same question for a vision
  // benchmark: an eval image that leaked into training, possibly
  // re-encoded, inflates eval exactly like a leaked test document).
  // Splits are the corpus's own md5 buckets (q106/q166's arithmetic:
  // train < 205, test >= 230); matching is q114's banded aHash at the
  // same tau=6, DF-CAPPED since r16: band buckets carried by more than
  // MEDIA_FP_MAXDF images corpus-wide (blank frames, logo cards — the
  // image boilerplate) are excluded from candidate generation on BOTH
  // sides, the q181 rule, because the cross-split bucket join is exactly
  // where a mass-duplicated frame fans out quadratically at 100 TB. The
  // trade is declared, not hidden: a train image whose only collisions
  // with eval ride hot buckets is not flagged (a 10^6-copy blank frame
  // identifies boilerplate, not leakage — and its mass is visible in
  // q177's image_bands audit row), and the oracle replays the identical
  // exclusion with the candidate set itself (the q30 discipline), so the
  // capped screen is hash-gated on its own declared semantics. Output
  // is the per-train-image drop ledger: how many eval images it collides
  // with and the closest one (deterministic argmin via the winnow-style
  // fixed-width string encode, identical in both engines).
  //
  // Scale shape: the staged band table built once (imageBands),
  // one df rollup over its instances (8 rows per image), one left-anti
  // prune per side, then the (band, bv) equi-join between the two sides
  // — every surviving bucket fans out <= MEDIA_FP_MAXDF^2 cross-split
  // candidates, and the eval side is benchmark-sized, so AQE broadcasts
  // it; the exact verify touches candidate pairs only. No cross join
  // anywhere in the engine plan.
  // ---------------------------------------------------------------------------
  def q178ImageDecontam(spark: SparkSession, dir: String): DataFrame =
    imageDecontamFrom(imageBands(spark, dir))

  /** The screen over ANY (media_id, bands) band table — shared by the
    * batch query and [[graft.streaming.StreamingDecontam]]'s serve path
    * (which reads the media maintainer's band slices). `capDf` defaults
    * to the q181 bucket cap (the serving semantics); `None` is the
    * pre-r16 uncapped screen, kept for the subset-of-exact spec.
    */
  private[graft] def imageDecontamFrom(
      bandsTable: DataFrame,
      capDf: Option[Int] = Some(MEDIA_FP_MAXDF)
  ): DataFrame = {
    val hashed = bandsTable
      .withColumn("bucket", conv(substring(md5(col("media_id").cast("string")), 1, 2), 16, 10).cast("int"))
    val evalSide = hashed
      .filter(col("bucket") >= Sampling.SPLIT_VALIDATION_LT)
      .select(col("media_id").as("eval_id"), col("bands").as("bands_e"))
    val trainSide = hashed
      .filter(col("bucket") < Sampling.SPLIT_TRAIN_LT)
      .select(col("media_id").as("train_id"), col("bands").as("bands_t"))
    // the hot set is corpus-wide (ALL images' instances, not per split) —
    // the same set q181 excludes and q177's image_bands row audits
    val hot = capDf.map { cap =>
      hotBandBuckets(bandsTable.select(col("media_id"), posexplode(col("bands")).as(Seq("band", "bv"))), cap)
    }
    val ei0 = evalSide.select(col("eval_id"), posexplode(col("bands_e")).as(Seq("band", "bv")))
    val ti0 = trainSide.select(col("train_id"), posexplode(col("bands_t")).as(Seq("band", "bv")))
    val ei = hot.fold(ei0)(h => ei0.join(h, Seq("band", "bv"), "left_anti"))
    val ti = hot.fold(ti0)(h => ti0.join(h, Seq("band", "bv"), "left_anti"))
    val cand = ti.join(ei, Seq("band", "bv")).select(col("train_id"), col("eval_id")).distinct()
    cand
      .join(trainSide, "train_id")
      .join(evalSide, "eval_id")
      .withColumn(
        "hamming",
        expr("CAST(aggregate(zip_with(bands_t, bands_e, (x, y) -> bit_count(x ^ y)), 0, (acc, v) -> acc + v) AS BIGINT)")
      )
      .filter(col("hamming") <= AHASH_TAU)
      .groupBy(col("train_id"))
      .agg(
        count(lit(1)).as("n_eval_matches"),
        min(
          concat(lpad(col("hamming").cast("string"), 2, "0"), lpad(col("eval_id").cast("string"), 19, "0"))
        ).as("enc")
      )
      .select(
        col("train_id"),
        col("n_eval_matches"),
        expr("CAST(substring(enc, 1, 2) AS BIGINT)").as("best_hamming"),
        expr("CAST(substring(enc, 3, 19) AS BIGINT)").as("best_eval_id")
      )
      .orderBy(col("train_id"))
  }

  /** q114's chain through hb (the q156 splice), the corpus-wide df rollup
    * and rare-instance prune (q181's CTEs verbatim), buckets projected
    * on, then the capped cross-split candidate join and the exact hamming
    * verify over those candidates only — the exclusion replayed whole.
    */
  lazy val q178Oracle: String = {
    val chain = q114Oracle.substring(0, q114Oracle.indexOf("\nSELECT l.media_id"))
    chain + ",\n" +
      s"""inst AS (
        |  SELECT media_id, CAST(b.range AS INT) AS band, bands[b.range + 1] AS bv
        |  FROM hb CROSS JOIN range(8) b),
        |bdf AS (SELECT band, bv, count(*) AS df FROM inst GROUP BY 1, 2),
        |ri AS (
        |  SELECT i.media_id, i.band, i.bv
        |  FROM inst i JOIN bdf USING (band, bv) WHERE bdf.df <= $MEDIA_FP_MAXDF),
        |hbb AS (
        |  SELECT media_id, bands,
        |         CAST(('0x' || substring(md5(CAST(media_id AS VARCHAR)), 1, 2))::INT AS INT) AS bucket
        |  FROM hb),
        |tr AS (SELECT media_id, bands FROM hbb WHERE bucket < ${Sampling.SPLIT_TRAIN_LT}),
        |ev AS (SELECT media_id, bands FROM hbb WHERE bucket >= ${Sampling.SPLIT_VALIDATION_LT}),
        |cand AS (
        |  SELECT DISTINCT t.media_id AS train_id, e.media_id AS eval_id
        |  FROM ri t JOIN ri e ON t.band = e.band AND t.bv = e.bv
        |  JOIN tr ON tr.media_id = t.media_id
        |  JOIN ev ON ev.media_id = e.media_id),
        |m AS (
        |  SELECT c.train_id, c.eval_id,
        |         CAST(list_sum(list_transform(range(1, 9), k -> bit_count(xor(t.bands[k], e.bands[k])))) AS BIGINT) AS hamming
        |  FROM cand c JOIN tr t ON t.media_id = c.train_id JOIN ev e ON e.media_id = c.eval_id
        |  WHERE list_sum(list_transform(range(1, 9), k -> bit_count(xor(t.bands[k], e.bands[k])))) <= 6)
        |SELECT train_id,
        |       CAST(count(*) AS BIGINT) AS n_eval_matches,
        |       CAST(substring(min(lpad(CAST(hamming AS VARCHAR), 2, '0') || lpad(CAST(eval_id AS VARCHAR), 19, '0')), 1, 2) AS BIGINT) AS best_hamming,
        |       CAST(substring(min(lpad(CAST(hamming AS VARCHAR), 2, '0') || lpad(CAST(eval_id AS VARCHAR), 19, '0')), 3, 19) AS BIGINT) AS best_eval_id
        |FROM m GROUP BY 1 ORDER BY train_id""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q161 — IMAGE–TEXT ALIGNMENT screen: the CLIP-style mismatched-pair
  // filter every VLM data pipeline runs before training (LAION/DataComp's
  // core curation step — drop pairs whose image and caption don't agree).
  // The multimodal pillar had unimodal dedup (q114–q116, q156) but no
  // CROSS-modal op; this closes it. Pairs are (image features, text
  // embedding) keyed by id: image features through the codec seam (q39's
  // extractFeatures — swap FakeCodec for a real vision tower, plan shape
  // unchanged), text embeddings from the embeddings table folded 64→16 by
  // position mod 16 (the deterministic stand-in for a projection head —
  // a learned adapter would replace the fold, not the plan). Score =
  // exact unit-cosine in integer micros (q155's arithmetic, per-pair);
  // pairs below ALIGN_FLOOR flag as mismatched, rolled up per source —
  // the "which collection's captions are junk" table.
  //
  // Exactness: float32 histogram division is mirrored with FLOAT casts
  // (q39's proven construct); everything after the one micro-floor per
  // component is 64-bit integer arithmetic except the unit-normalize
  // sqrt and the final /1e6 (both correctly-rounded IEEE in both
  // engines, the q155 exposure).
  //
  // Scale shape: one media scan through the batched decode, one
  // embeddings scan, two narrow groupBys (16 rows per doc), one doc_id
  // equi-join — no pair explosion anywhere (the screen is per-PAIR, not
  // pairwise). At 100 TB the decode stage dominates and parallelizes by
  // partition; everything downstream is fixed-width per doc.
  // ---------------------------------------------------------------------------
  private val ALIGN_FLOOR_MICRO = 200000L // cos < 0.2 -> mismatched
  private val ALIGN_REVIEW_FRAC_MICRO = 500000L // >50% flagged -> review the source

  /** Exact unit-cosine per doc over LONG-FORM integer-micro vectors
    * (doc_id, pos, v): each side unit-normalized to micros (q155's
    * recipe), then one (doc_id, pos) equi-join and a per-doc sum. Factored
    * over plain frames so the spec can plant aligned/orthogonal pairs.
    * Zero vectors drop (no cosine exists); absent positions contribute 0
    * on both engines (the text side always carries all 16 positions, so
    * the inner join never loses image mass).
    */
  private[operators] def alignCosMicro(img: DataFrame, txt: DataFrame): DataFrame = {
    def unit(df: DataFrame, out: String): DataFrame = {
      val n2 = df.groupBy(col("doc_id")).agg(sum(expr("v * v")).as("n2")).filter(col("n2") > 0)
      df.join(n2, "doc_id")
        .select(
          col("doc_id"),
          col("pos"),
          expr("CAST(floor(CAST(v AS DOUBLE) * 1e6 / sqrt(CAST(n2 AS DOUBLE)) + 5e-1) AS BIGINT)").as(out)
        )
    }
    unit(img, "ua")
      .join(unit(txt, "ub"), Seq("doc_id", "pos"))
      .groupBy(col("doc_id"))
      .agg(expr("CAST(floor(CAST(sum(ua * ub) AS DOUBLE) / 1e6 + 5e-1) AS BIGINT)").as("align_micro"))
  }

  /** The per-doc alignment cosine frame as a stage: the image side decodes
    * once via [[imageFeatures]], and the text side's 64-dim posexplode +
    * fold + unit-normalize chain builds once instead of per repetition.
    */
  private val alignStage = Stage("q161_align") { (spark, dir) =>
    val img = imageFeatures(spark, dir)
      .select(col("media_id").as("doc_id"), posexplode(col("features")).as(Seq("pos", "f")))
      .select(col("doc_id"), col("pos"), expr("CAST(floor(CAST(f AS DOUBLE) * 1e6 + 5e-1) AS BIGINT)").as("v"))
    val txt = Tables
      .balanced(Tables.embeddings(spark, dir))
      .select(col("vec_id").as("doc_id"), posexplode(col("embedding")).as(Seq("j", "x")))
      .select(
        col("doc_id"),
        (col("j") % 16).as("pos"),
        expr("CAST(floor(CAST(x AS DOUBLE) * 1e6 + 5e-1) AS BIGINT)").as("v")
      )
      .groupBy(col("doc_id"), col("pos"))
      .agg(sum(col("v")).as("v"))
    alignCosMicro(img, txt).localCheckpoint()
  }

  def q161ImageTextAlign(spark: SparkSession, dir: String): DataFrame = {
    alignStage(spark, dir)
      .join(Tables.balanced(Tables.documents(spark, dir)).select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("align_micro") < ALIGN_FLOOR_MICRO, 1L).otherwise(0L)).as("n_flagged"),
        sum(col("align_micro")).as("sa"),
        min(col("align_micro")).as("mn")
      )
      .select(
        col("source"),
        col("n_pairs"),
        col("n_flagged"),
        expr("floor(CAST(n_flagged AS DOUBLE) * 1e6 / n_pairs + 5e-1) / 1e6").as("flag_frac"),
        expr("floor(CAST(sa AS DOUBLE) / n_pairs + 5e-1) / 1e6").as("mean_align"),
        (col("mn") / lit(1e6)).as("min_align"),
        expr(
          s"CASE WHEN floor(CAST(n_flagged AS DOUBLE) * 1e6 / n_pairs + 5e-1) > $ALIGN_REVIEW_FRAC_MICRO THEN 'review' ELSE 'ok' END"
        ).as("verdict")
      )
      .orderBy(col("source"))
  }

  val q161Oracle: String =
    s"""WITH img AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
       |chars AS (
       |  SELECT doc_id, unicode(t.x) % 16 AS pos
       |  FROM img, unnest(string_split(text, '')) AS t(x)
       |  WHERE length(text) > 0),
       |hist AS (SELECT doc_id, pos, count(*)::FLOAT AS cnt FROM chars GROUP BY 1, 2),
       |fm AS (
       |  SELECT h.doc_id, h.pos,
       |         CAST(floor(CAST(CAST(h.cnt / greatest(octet_length(encode(i.text)), 1)::FLOAT AS FLOAT) AS DOUBLE) * 1e6 + 5e-1) AS BIGINT) AS v
       |  FROM hist h JOIN img i USING (doc_id)),
       |tm AS (
       |  SELECT vec_id AS doc_id, CAST(u.i % 16 AS INT) AS pos,
       |         CAST(sum(CAST(floor(embedding[u.i + 1]::DOUBLE * 1e6 + 5e-1) AS BIGINT)) AS BIGINT) AS v
       |  FROM embeddings, unnest(range(len(embedding))) AS u(i) GROUP BY 1, 2),
       |fn AS (SELECT doc_id, sum(v * v) AS n2 FROM fm GROUP BY 1 HAVING sum(v * v) > 0),
       |tn AS (SELECT doc_id, sum(v * v) AS n2 FROM tm GROUP BY 1 HAVING sum(v * v) > 0),
       |ua AS (
       |  SELECT fm.doc_id, fm.pos,
       |         CAST(floor(CAST(fm.v AS DOUBLE) * 1e6 / sqrt(CAST(fn.n2 AS DOUBLE)) + 5e-1) AS BIGINT) AS u
       |  FROM fm JOIN fn USING (doc_id)),
       |ub AS (
       |  SELECT tm.doc_id, tm.pos,
       |         CAST(floor(CAST(tm.v AS DOUBLE) * 1e6 / sqrt(CAST(tn.n2 AS DOUBLE)) + 5e-1) AS BIGINT) AS u
       |  FROM tm JOIN tn USING (doc_id)),
       |cosv AS (
       |  SELECT ua.doc_id,
       |         CAST(floor(CAST(sum(ua.u * ub.u) AS DOUBLE) / 1e6 + 5e-1) AS BIGINT) AS align_micro
       |  FROM ua JOIN ub ON ua.doc_id = ub.doc_id AND ua.pos = ub.pos
       |  GROUP BY 1),
       |r AS (
       |  SELECT d.source, count(*) AS n_pairs,
       |         CAST(sum(CASE WHEN align_micro < $ALIGN_FLOOR_MICRO THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       |         CAST(sum(align_micro) AS BIGINT) AS sa, min(align_micro) AS mn
       |  FROM cosv JOIN documents d USING (doc_id) GROUP BY 1)
       |SELECT source, CAST(n_pairs AS BIGINT) AS n_pairs, n_flagged,
       |       floor(CAST(n_flagged AS DOUBLE) * 1e6 / n_pairs + 5e-1) / 1e6 AS flag_frac,
       |       floor(CAST(sa AS DOUBLE) / n_pairs + 5e-1) / 1e6 AS mean_align,
       |       mn / 1e6 AS min_align,
       |       CASE WHEN floor(CAST(n_flagged AS DOUBLE) * 1e6 / n_pairs + 5e-1) > $ALIGN_REVIEW_FRAC_MICRO THEN 'review' ELSE 'ok' END AS verdict
       |FROM r ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q161_image_text_align" -> (q161ImageTextAlign _),
    "q37_media_decode" -> (q37MediaDecode _),
    "q38_frame_sample" -> (q38FrameSample _),
    "q39_media_features" -> (q39MediaFeatures _),
    "q65_media_resize" -> (q65MediaResize _),
    "q114_image_neardup" -> (q114ImageNeardup _),
    "q181_image_neardup_capped" -> (q181ImageNeardupCapped _),
    "q115_video_neardup" -> (q115VideoNeardup _),
    "q116_audio_activity" -> (q116AudioActivity _),
    "q175_audio_neardup" -> (q175AudioNeardup _),
    "q177_media_boilerplate" -> (q177MediaBoilerplate _),
    "q183_media_hot_ledger" -> (q183MediaHotLedger _),
    "q178_image_decontam" -> (q178ImageDecontam _),
    "q176_media_dedup_profile" -> (q176MediaDedupProfile _),
    "q156_image_dup_clusters" -> (q156ImageDupClusters _)
  )

  /** The fake codec's "decode" is pure arithmetic on the payload's length
    * and byte sum, and the corpus is verified pure ASCII (TablesSpec's
    * "documents.text is pure ASCII" test pins `length(text) ==
    * octet_length(text)` for every row at sf0.001 AND the gate's sf0.01),
    * so the byte sum equals the sum of character codepoints —
    * expressible in DuckDB as
    * `list_sum(list_transform(string_split(text,''), c -> unicode(c)))`.
    * That makes q37 (decode dims), q65 (resize arithmetic) and q39
    * (byte-histogram feature norm, float32 math reproduced via FLOAT
    * casts) fully oracle-checkable; only a real (non-fake) codec binding
    * would take these back to rows-only.
    */
  private val q37Oracle: String =
    """WITH m AS (
      |  SELECT doc_id,
      |         ['image','audio','video'][(doc_id % 3 + 1)::INT] AS kind,
      |         octet_length(encode(text)) AS n,
      |         coalesce(list_sum(list_transform(string_split(text, ''), c -> unicode(c))), 0) AS bsum
      |  FROM documents)
      |SELECT kind,
      |       count(*) AS n_media,
      |       round(avg(64 + n % 512), 4) AS avg_width,
      |       round(avg(64 + bsum % 512), 4) AS avg_height,
      |       sum(n)::BIGINT AS total_bytes
      |FROM m GROUP BY kind ORDER BY kind""".stripMargin

  private val q65Oracle: String =
    """WITH m AS (
      |  SELECT doc_id,
      |         ['image','audio','video'][(doc_id % 3 + 1)::INT] AS kind,
      |         octet_length(encode(text)) AS n,
      |         coalesce(list_sum(list_transform(string_split(text, ''), c -> unicode(c))), 0) AS bsum
      |  FROM documents),
      |d AS (
      |  SELECT kind, n,
      |         (64 + n % 512)::INT AS w,
      |         (64 + bsum % 512)::INT AS h
      |  FROM m),
      |r AS (
      |  SELECT kind, w, h, n,
      |         least(1.0::DOUBLE, least(224.0::DOUBLE / w, 224.0::DOUBLE / h)) AS scale
      |  FROM d),
      |f AS (
      |  SELECT kind, scale,
      |         greatest(1, CAST(round(w * scale) AS INT)) AS ow,
      |         greatest(1, CAST(round(h * scale) AS INT)) AS oh,
      |         greatest(1, CAST(round(n * scale * scale) AS BIGINT)) AS bytes
      |  FROM r)
      |SELECT kind,
      |       count(*) AS n_media,
      |       round(avg(scale), 6) AS avg_scale,
      |       max(ow) AS max_out_width,
      |       max(oh) AS max_out_height,
      |       sum(bytes)::BIGINT AS total_resized_bytes
      |FROM f GROUP BY kind ORDER BY kind""".stripMargin

  private val q39Oracle: String =
    """WITH chars AS (
      |  SELECT doc_id, unicode(t.x) % 16 AS b
      |  FROM documents, unnest(string_split(text, '')) AS t(x)
      |  WHERE length(text) > 0),
      |hist AS (
      |  SELECT doc_id, b, count(*)::FLOAT AS cnt FROM chars GROUP BY doc_id, b),
      |docs AS (
      |  SELECT doc_id,
      |         ['image','audio','video'][(doc_id % 3 + 1)::INT] AS kind,
      |         greatest(octet_length(encode(text)), 1)::FLOAT AS total
      |  FROM documents),
      |norms AS (
      |  SELECT d.doc_id, min(d.kind) AS kind,
      |         sqrt(coalesce(sum(
      |           CAST(CAST(h.cnt / d.total AS FLOAT) AS DOUBLE) *
      |           CAST(CAST(h.cnt / d.total AS FLOAT) AS DOUBLE)), 0)) AS l2
      |  FROM docs d LEFT JOIN hist h ON d.doc_id = h.doc_id
      |  GROUP BY d.doc_id)
      |SELECT kind, count(*) AS n_media, round(avg(l2), 6) AS avg_feature_norm
      |FROM norms GROUP BY kind ORDER BY kind""".stripMargin

  val oracles: Map[String, String] = Map(
    "q161_image_text_align" -> q161Oracle,
    "q37_media_decode" -> q37Oracle,
    "q38_frame_sample" -> q38Oracle,
    "q39_media_features" -> q39Oracle,
    "q65_media_resize" -> q65Oracle,
    "q114_image_neardup" -> q114Oracle,
    "q181_image_neardup_capped" -> q181Oracle,
    "q115_video_neardup" -> q115Oracle,
    "q116_audio_activity" -> q116Oracle,
    "q175_audio_neardup" -> q175Oracle,
    "q177_media_boilerplate" -> q177Oracle,
    "q183_media_hot_ledger" -> q183Oracle,
    "q178_image_decontam" -> q178Oracle,
    "q176_media_dedup_profile" -> q176Oracle,
    "q156_image_dup_clusters" -> q156Oracle
  )
}
