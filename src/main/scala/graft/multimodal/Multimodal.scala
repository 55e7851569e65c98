package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.reflect.runtime.universe.TypeTag

/** Multimodal-column plumbing: media payloads ride as opaque `binary`
  * columns next to typed metadata; decode/feature-extract runs batched
  * per partition so a real codec (image decode, audio resample, frame
  * sampling) drops in without changing the pipeline shape.
  *
  * Two tiers share that contract — binary payload column, metadata
  * struct, typed `mapPartitions` with per-partition (batch) processing,
  * stable feature schema. The byte-generic tier decodes through a
  * clearly-marked deterministic STUB ([[stubDecodeFeatures]]). The real
  * codec tier ([[WavCodec]], [[BmpCodec]], [[AviCodec]] — one AVI writer
  * and one chunk walker over the shared DIB and PCM header code)
  * synthesizes assets from doc_id by one pixel law and one sample-law
  * family, encodes genuine WAV/BMP/AVI bytes through one asset
  * synthesizer, and takes features only from the decoded media.
  */
object Multimodal {

  /** A media row: payload + metadata. `payload` stands in for image/audio
    * bytes (here: utf-8 of the doc text — the plumbing is
    * format-agnostic).
    */
  case class MediaRecord(media_id: Long, payload: Array[Byte], media_type: String, n_bytes: Long)

  /** Extracted features: fixed-length vector + summary scalars, the shape
    * a downstream embedding/training stage consumes.
    */
  case class MediaFeatures(media_id: Long, n_bytes: Long, checksum: Long, features: Array[Float])

  /** Attach a binary payload + metadata struct to the documents table —
    * the ingest step of a multimodal pipeline (binary column stays
    * opaque; metadata is queryable/prunable without touching payloads).
    */
  def attachPayload(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      encode(col("text"), "utf-8").as("payload"),
      lit("text/plain").as("media_type"),
      length(encode(col("text"), "utf-8")).cast("long").as("n_bytes"))

  /** STUB decode: stands in for `decode_image(payload)` /
    * `extract_mel(payload)`. Deterministic per payload byte content —
    * byte-histogram moments folded into `dim` pseudo-features. A real
    * implementation replaces ONLY the body of `featuresOf`; the
    * partition-batched iteration (amortized codec init per partition,
    * not per row) and the output schema stay.
    */
  def stubDecodeFeatures(media: Dataset[MediaRecord], dim: Int = 8): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // Per-partition init goes here in a real codec (decoder handles,
      // model weights, thread-local buffers).
      def featuresOf(payload: Array[Byte]): (Long, Array[Float]) = {
        var checksum = 0L
        val feats = new Array[Float](dim)
        var i = 0
        while (i < payload.length) {
          val b = payload(i) & 0xff
          checksum = (checksum * 31 + b) & 0x7fffffffffffffffL
          feats(i % dim) += b / 255.0f
          i += 1
        }
        (checksum, feats)
      }
      rows.map { r =>
        val (checksum, feats) = featuresOf(r.payload)
        MediaFeatures(r.media_id, r.n_bytes, checksum, feats)
      }
    }
  }

  /** Fixed-offset "frame sampling" over a binary payload — the byte-level
    * analog of sampling every k-th video frame: slice `frameSize` bytes
    * every `stride` bytes. Pure built-ins (`substring` on binary).
    */
  def sampleFrames(media: DataFrame, frameSize: Int, stride: Int, maxFrames: Int): DataFrame =
    media.select(col("media_id"), posexplode(
      array((0 until maxFrames).map(i =>
        substring(col("payload"), i * stride + 1, frameSize)): _*)).as(Seq("frame_no", "frame")))
      .where(length(col("frame")) > 0)

  // ------------------------------------------------------------------
  // REAL-format decode tier ([[WavCodec]] / [[BmpCodec]]): payloads are
  // synthesized from doc_id by pure INTEGER formulas, encoded into
  // genuine WAV/BMP bytes, and features are extracted from the DECODED
  // bytes — never from the formula. The DuckDB oracle replays only the
  // generating formula, so a hash match certifies the entire binary
  // path: header layout, chunk walking, BMP row padding (widths 5..8
  // pad 1,2,3,0 bytes) and bottom-up row order. Every stage is
  // `mapPartitions` (per-partition codec amortization, zero driver
  // state) — the shape a real image/audio decode runs at 100 TB.
  // ------------------------------------------------------------------

  /** Synthesized audio law (shared by [[synthWavAssets]] and the q_mm3
    * oracle): n = 64 + d%64 samples at rate 8000 + 1000·(d%4) Hz,
    * sample i = ((d·31 + i·7) mod 4096) − 2048. Integer-only, so the
    * oracle states it in SQL verbatim.
    */
  def wavSamples(d: Long): (Int, Array[Short]) = pcmLaw(d, 64 + d % 64, 31, 7)

  /** The sample-law family: n samples at rate 8000 + 1000·(k%4) Hz,
    * sample i = ((k·a + i·b) mod 4096) − 2048.
    */
  private def pcmLaw(k: Long, n: Long, a: Int, b: Int): (Int, Array[Short]) =
    ((8000 + 1000 * (k % 4)).toInt,
      Array.tabulate(n.toInt)(i => (((k * a + i * b) % 4096) - 2048).toShort))

  /** The one asset synthesizer: one `mediaType` payload per doc_id of
    * `docs`, built by `payloadOf` inside `mapPartitions` (zero driver
    * state).
    */
  private def synthAssets(docs: DataFrame, mediaType: String)(
      payloadOf: Long => Array[Byte]): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { d =>
        val payload = payloadOf(d)
        MediaRecord(d, payload, mediaType, payload.length.toLong)
      }
    }
  }

  /** WAV assets over `docs`: one mono PCM-16 payload per doc_id under
    * the sample law `samplesOf` via [[WavCodec.encode]]. When
    * `corruptMod > 0`, payloads of doc_id ≡ `corruptRes` (mod
    * `corruptMod`) are truncated to 20 bytes — a deterministic
    * "transfer-mangled asset" population for the integrity audit (20 <
    * the 44-byte header, so [[WavCodec.decode]] genuinely rejects them,
    * and the oracle predicts which by residue).
    */
  def synthWavAssets(docs: DataFrame, corruptMod: Int = 0, corruptRes: Int = 0,
      samplesOf: Long => (Int, Array[Short]) = wavSamples): Dataset[MediaRecord] =
    synthAssets(docs, "audio/wav") { d =>
      val (rate, samples) = samplesOf(d)
      val full = WavCodec.encode(samples, rate)
      if (corruptMod > 0 && d % corruptMod == corruptRes) full.take(20) else full
    }

  /** (Σsᵢ, Σ(i+1)·sᵢ) over a PCM stream — the weighted sum pins sample
    * ORDER (an endianness or offset bug preserves the sum but not it).
    */
  private def pcmSums(samples: Array[Short]): (Long, Long) = {
    var (sum, wsum) = (0L, 0L)
    var i = 0
    while (i < samples.length) {
      sum += samples(i); wsum += (i + 1).toLong * samples(i)
      i += 1
    }
    (sum, wsum)
  }

  /** Decode WAV assets ([[WavCodec.decode]] — throws on malformed) and
    * emit integer features of the decoded samples: count, rate, sum,
    * min, max, and the position-weighted Σ(i+1)·sᵢ ([[pcmSums]]).
    */
  def decodeWavFeatures(media: Dataset[MediaRecord]): DataFrame =
    perAsset(media, "media_id", "sample_rate", "n_samples", "sum_s", "min_s",
        "max_s", "wsum") { m =>
      val a = WavCodec.decode(m.payload)
      val (sum, wsum) = pcmSums(a.samples)
      val mn = a.samples.foldLeft(Int.MaxValue)(_ min _)
      val mx = a.samples.foldLeft(Int.MinValue)(_ max _)
      Iterator((m.media_id, a.sampleRate.toLong, a.samples.length.toLong, sum,
        mn.toLong, mx.toLong, wsum))
    }

  /** The one pixel law every synthesized image and video frame follows
    * (the oracles state it in SQL verbatim). Plain assets key on k = d
    * with channel seeds (d, 2d, 3d) mod 256; class assets key on the
    * CLASS k = d % 16 with seeds (17k, 29k, 41k) mod 255. Then w =
    * 5 + k%4 (all three BMP row pads), h = 3 + k%3, nf = 2 + k%3 frames
    * for video (1 for a still image, which is frame t = 0), and frame
    * t's channels are b = (seed_b + 3x + 7y + 13t), g = (seed_g + 5x +
    * y + 17t), r = (seed_r + x + 11y + 19t), top-down row-major. A
    * class asset with odd d/16 adds 1 to frame 0's pixel (0,0) blue
    * channel (≤ 254 + 1: still a valid byte), so every class is a
    * near-duplicate family (same pixels up to one byte) and distinct
    * classes are unrelated patterns.
    */
  private def lawFrames(d: Long, cls: Boolean, video: Boolean)
      : Array[BmpCodec.BmpImage] = {
    val k = if (cls) d % 16 else d
    val (seeds, m) =
      if (cls) (Array(17 * k, 29 * k, 41 * k), 255) else (Array(k, 2 * k, 3 * k), 256)
    val w = (5 + k % 4).toInt
    val h = (3 + k % 3).toInt
    val nf = if (video) (2 + k % 3).toInt else 1
    val frames = Array.tabulate(nf) { t =>
      val n = w * h
      val (b, g, r) = (new Array[Int](n), new Array[Int](n), new Array[Int](n))
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val i = y * w + x
          b(i) = ((seeds(0) + 3 * x + 7 * y + 13 * t) % m).toInt
          g(i) = ((seeds(1) + 5 * x + y + 17 * t) % m).toInt
          r(i) = ((seeds(2) + x + 11 * y + 19 * t) % m).toInt
          x += 1
        }
        y += 1
      }
      BmpCodec.BmpImage(w, h, b, g, r)
    }
    if (cls) frames(0).b(0) += ((d / 16) % 2).toInt
    frames
  }

  /** Synthesized image law (shared with the q_mm4 oracle): [[lawFrames]]'
    * plain still image — w = 5 + d%4, h = 3 + d%3, b = (d + 3x + 7y) %
    * 256, g = (2d + 5x + y) % 256, r = (3d + x + 11y) % 256.
    */
  def bmpImage(d: Long): BmpCodec.BmpImage =
    lawFrames(d, cls = false, video = false).head

  /** Class-structured image law for the modality near-dup tier (q_mm6):
    * [[lawFrames]]' class still image — 16 near-duplicate families
    * differing by one pixel.
    */
  def bmpClassImage(d: Long): BmpCodec.BmpImage =
    lawFrames(d, cls = true, video = false).head

  /** BMP assets over `docs` via `imageOf` (one of the laws above) +
    * [[BmpCodec.encode]].
    */
  def synthBmpAssets(docs: DataFrame, imageOf: Long => BmpCodec.BmpImage)
      : Dataset[MediaRecord] =
    synthAssets(docs, "image/bmp")(d => BmpCodec.encode(imageOf(d)))

  /** (Σb, Σg, Σr, Σ(base+i+1)·rᵢ) of one image's pixels in row-major
    * order, added into `acc` — the weighted sum breaks if padding is
    * mis-skipped or bottom-up order is not undone (both shift which
    * byte lands at which (x, y)); `base` offsets it by frame for video.
    */
  private def pixelSums(img: BmpCodec.BmpImage, base: Long = 0L,
      acc: Array[Long] = new Array[Long](4)): Array[Long] = {
    var i = 0
    while (i < img.b.length) {
      acc(0) += img.b(i); acc(1) += img.g(i); acc(2) += img.r(i)
      acc(3) += (base + i + 1) * img.r(i)
      i += 1
    }
    acc
  }

  /** The per-image feature row of q_mm4/q_mm7: decode, `prep`, then
    * dimensions + [[pixelSums]].
    */
  private def imageFeatures(media: Dataset[MediaRecord],
      prep: BmpCodec.BmpImage => BmpCodec.BmpImage): DataFrame =
    perAsset(media, "media_id", "width", "height", "n_pixels", "sum_b",
        "sum_g", "sum_r", "wsum_r") { m =>
      val img = prep(BmpCodec.decode(m.payload))
      val s = pixelSums(img)
      Iterator((m.media_id, img.width.toLong, img.height.toLong,
        (img.width * img.height).toLong, s(0), s(1), s(2), s(3)))
    }

  /** Decode BMP assets and emit integer features: dimensions, per-
    * channel sums, and the position-weighted Σ(y·w+x+1)·r(x,y)
    * ([[pixelSums]]).
    */
  def decodeBmpFeatures(media: Dataset[MediaRecord]): DataFrame =
    imageFeatures(media, identity)

  /** Integer 2×2 box-filter downsample — the RESIZE verb of the
    * multimodal tier, pure integer arithmetic so the oracle replays it
    * exactly: out pixel (x2, y2) = floor of the mean of the input 2×2
    * block at (2x2.., 2y2..), per channel; odd trailing row/column
    * dropped (floor dims). Stateless per-image work, mapPartitions
    * territory like the codecs.
    */
  def resizeHalf(img: BmpCodec.BmpImage): BmpCodec.BmpImage = {
    val w2 = img.width / 2
    val h2 = img.height / 2
    require(w2 > 0 && h2 > 0,
      s"resizeHalf needs dims >= 2, got ${img.width}x${img.height}")
    val n = w2 * h2
    val (b, g, r) = (new Array[Int](n), new Array[Int](n), new Array[Int](n))
    var y2 = 0
    while (y2 < h2) {
      var x2 = 0
      while (x2 < w2) {
        val i00 = (2 * y2) * img.width + 2 * x2
        val i10 = i00 + 1
        val i01 = i00 + img.width
        val i11 = i01 + 1
        val o = y2 * w2 + x2
        b(o) = (img.b(i00) + img.b(i10) + img.b(i01) + img.b(i11)) / 4
        g(o) = (img.g(i00) + img.g(i10) + img.g(i01) + img.g(i11)) / 4
        r(o) = (img.r(i00) + img.r(i10) + img.r(i01) + img.r(i11)) / 4
        x2 += 1
      }
      y2 += 1
    }
    BmpCodec.BmpImage(w2, h2, b, g, r)
  }

  /** Decode → [[resizeHalf]] → RE-ENCODE → decode → features: the
    * resized image travels back through the codec before features are
    * taken, so the round-trip certifies the encoder on the resized
    * dimension set too (w2 ∈ {2,3,4} exercises row pads 2,3,0 — a
    * different pad population than the full-size assets'). Feature
    * schema mirrors [[decodeBmpFeatures]] on the RESIZED image.
    */
  def resizeBmpFeatures(media: Dataset[MediaRecord]): DataFrame =
    imageFeatures(media,
      img => BmpCodec.decode(BmpCodec.encode(resizeHalf(img))))

  /** Frame features over DECODED samples — the frame-sample verb at
    * sample level (q_mm2 slices raw bytes; this slices the decoded PCM
    * stream): complete windows of `frameLen` samples, per frame the
    * integer features an audio curation pass bins on — Σ|s| (energy
    * proxy), max |s| (clip detection), zero-crossing count (the
    * classic voiced/unvoiced discriminator), all integer-exact so the
    * oracle replays them. Incomplete tail window dropped (floor
    * count), matching the oracle's `(n div frameLen) · frameLen` cut.
    */
  def audioFrameFeatures(media: Dataset[MediaRecord], frameLen: Int)
      : DataFrame = {
    require(frameLen >= 2, s"frameLen must be >= 2, got $frameLen")
    perAsset(media, "media_id", "frame_no", "sum_abs", "max_abs", "crossings") { m =>
      val a = WavCodec.decode(m.payload)
      val nf = a.samples.length / frameLen
      (0 until nf).iterator.map { f =>
        val base = f * frameLen
        var (sumAbs, maxAbs, crossings) = (0L, 0L, 0L)
        var i = 0
        while (i < frameLen) {
          val s = a.samples(base + i).toInt
          val abs = math.abs(s).toLong
          sumAbs += abs
          if (abs > maxAbs) maxAbs = abs
          if (i > 0 && a.samples(base + i - 1).toInt * s < 0) crossings += 1
          i += 1
        }
        (m.media_id, f.toLong, sumAbs, maxAbs, crossings)
      }
    }
  }

  /** Class-structured audio law for the audio near-dup leg (q_mm9),
    * [[bmpClassImage]]'s shape on the WAV side: the sample pattern
    * depends on the CLASS c = d % 16 (n = 64 + 16·(c % 4) samples,
    * rate 8000 + 1000·(c % 4), sample i = ((c·31 + i·7) mod 4096) −
    * 2048), plus a 1-count perturbation of sample 0 for odd d/16 — 16
    * near-duplicate families, unrelated across classes.
    */
  def wavClassSamples(d: Long): (Int, Array[Short]) = {
    val c = d % 16
    val (rate, samples) = pcmLaw(c, 64 + 16 * (c % 4), 31, 7)
    samples(0) = (samples(0) + ((d / 16) % 2).toInt).toShort // ≤ 2047+1: no wrap at these values
    (rate, samples)
  }

  /** Audio-probe embedding from DECODED samples, [[bmpProbeEmbeddings]]'
    * discipline on the WAV side: 8 fixed probe indices i = 7·j (within
    * bounds for every class since n ≥ 64) read the reconstructed PCM
    * stream directly — any header/offset/endianness slip reads a
    * different sample. Signed 16-bit values are already spread; the
    * float cast is exact (|s| ≤ 2048 ≪ 2^24).
    */
  def wavProbeEmbeddings(media: Dataset[MediaRecord]): DataFrame =
    embed(media) { p =>
      val a = WavCodec.decode(p)
      Array.tabulate(8)(j => a.samples(7 * j).toFloat)
    }

  /** The one decode-side stage: `rowsOf` each asset inside
    * `mapPartitions` (per-partition codec amortization, zero driver
    * state), named `cols`.
    */
  private def perAsset[T <: Product : TypeTag](media: Dataset[MediaRecord],
      cols: String*)(rowsOf: MediaRecord => Iterator[T]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap(rowsOf)).toDF(cols: _*)
  }

  /** (vec_id, embedding float[8]) rows of `featuresOf(payload)` — the
    * shape [[graft.operators.Dedup.embeddingNearDupsAnn]] consumes.
    */
  private def embed(media: Dataset[MediaRecord])(
      featuresOf: Array[Byte] => Array[Float]): DataFrame =
    perAsset(media, "vec_id", "embedding")(m =>
      Iterator((m.media_id, featuresOf(m.payload))))

  /** The one probe: 8 fixed sites (frame(j), x = j mod 5, y = j mod 3,
    * channel b/g/r by j mod 3) — in-bounds for every class since w ≥ 5,
    * h ≥ 3 — each feature the signed 2·ch − 255. Probing exact
    * coordinates is the most decode-sensitive embedding possible (any
    * padding/row-order/frame-order slip reads a different byte), and
    * the signed recentering spreads class directions so cosine
    * near-dup separates families cleanly. Integer-valued, so the float
    * cast is exact and the DuckDB replay agrees bit-for-bit.
    */
  private def probe(frame: Int => BmpCodec.BmpImage): Array[Float] =
    Array.tabulate(8) { j =>
      val f = frame(j)
      val i = (j % 3) * f.width + (j % 5)
      val ch = (j % 3) match {
        case 0 => f.b(i)
        case 1 => f.g(i)
        case _ => f.r(i)
      }
      (2 * ch - 255).toFloat
    }

  // ------------------------------------------------------------------
  // Video tier ([[AviCodec]]): the third real-format modality. Same
  // discipline as WAV/BMP — payloads synthesized from doc_id by integer
  // laws, encoded into genuine RIFF/AVI containers, features taken only
  // from DECODED frames; the oracle replays the generating formulas, so
  // a hash match certifies the whole container round-trip (nested LIST
  // walk, avih/strf cross-checks, per-frame DIB padding + bottom-up
  // undo). All stages `mapPartitions`, zero driver state.
  // ------------------------------------------------------------------

  /** Synthesized video law (shared with the q_mm10/q_mm11 oracles):
    * [[lawFrames]]' plain video — the image law's dimension grid,
    * nf = 2 + d%3 frames, frame t shifted by (13t, 17t, 19t) per channel.
    */
  def aviFrames(d: Long): Array[BmpCodec.BmpImage] =
    lawFrames(d, cls = false, video = true)

  /** Class-structured video law for the video near-dup leg (q_mm12):
    * [[lawFrames]]' class video — 16 near-duplicate families differing
    * by one byte of one frame.
    */
  def aviClassFrames(d: Long): Array[BmpCodec.BmpImage] =
    lawFrames(d, cls = true, video = true)

  /** AVI assets over `docs` under a pluggable frame law. */
  def synthAviAssets(docs: DataFrame,
      framesOf: Long => Array[BmpCodec.BmpImage]): Dataset[MediaRecord] =
    synthAssets(docs, "video/avi")(d => AviCodec.encode(framesOf(d), fps = 10))

  /** Σ over frames of [[pixelSums]] with frame t's weights offset by
    * t·w·h — the Σ(t·w·h + y·w + x + 1)·r(x,y,t) that pins FRAME order
    * on top of pixel order.
    */
  private def videoSums(frames: Array[BmpCodec.BmpImage]): Array[Long] = {
    val acc = new Array[Long](4)
    frames.indices.foreach(t =>
      pixelSums(frames(t), t.toLong * frames(t).b.length, acc))
    acc
  }

  /** Decode AVI assets ([[AviCodec.decode]] — throws on malformed) and
    * emit per-VIDEO integer features: dimensions, frame count, summed
    * channels over all frames, the frame-and-position-weighted
    * Σ(t·w·h + y·w + x + 1)·r(x,y,t) that pins FRAME order on top of
    * pixel order (a swapped or dropped frame keeps the plain sums but
    * not this), and sum_motion = Σ_{t≥1} |r_t − r_{t−1}| summed over
    * pixels — the temporal-difference feature (scene-change / motion
    * proxy) that only exists for a modality with a time axis.
    */
  def decodeAviFeatures(media: Dataset[MediaRecord]): DataFrame =
    perAsset(media, "media_id", "width", "height", "n_frames", "sum_b",
        "sum_g", "sum_r", "wsum_r", "sum_motion") { m =>
      val v = AviCodec.decode(m.payload)
      val s = videoSums(v.frames)
      val motion = (1 until v.frames.length).map { t =>
        val (cur, prev) = (v.frames(t).r, v.frames(t - 1).r)
        cur.indices.map(i => math.abs(cur(i) - prev(i)).toLong).sum
      }.sum
      Iterator((m.media_id, v.width.toLong, v.height.toLong,
        v.frames.length.toLong, s(0), s(1), s(2), s(3), motion))
    }

  /** Every-k-th-frame sampling over DECODED frames — the frame-sample
    * verb at its natural granularity (q_mm2 slices raw container BYTES,
    * q_mm8 slices decoded audio SAMPLES; this takes every `stride`-th
    * decoded video FRAME), with per-sampled-frame features mirroring
    * [[decodeBmpFeatures]]: channel sums + the position-weighted
    * Σ(y·w+x+1)·r within the frame.
    */
  def aviFrameSample(media: Dataset[MediaRecord], stride: Int): DataFrame = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    perAsset(media, "media_id", "frame_no", "sum_b", "sum_g", "sum_r", "wsum_r") { m =>
      val v = AviCodec.decode(m.payload)
      (0 until v.frames.length by stride).iterator.map { t =>
        val s = pixelSums(v.frames(t))
        (m.media_id, t.toLong, s(0), s(1), s(2), s(3))
      }
    }
  }

  /** Video-probe embedding from DECODED frames: [[probe]] with the time
    * axis in the site set, frame t = j mod 2 (in bounds since nf ≥ 2),
    * so a nested-chunk or frame-order slip reads a different byte too.
    */
  def aviProbeEmbeddings(media: Dataset[MediaRecord]): DataFrame =
    embed(media) { p =>
      val v = AviCodec.decode(p)
      probe(j => v.frames(j % 2))
    }

  /** Interleaved-AV audio law (shared with the q_mm13 oracle): n =
    * 48 + d%32 samples at rate 8000 + 1000·(d%4) Hz, sample
    * i = ((d·37 + i·11) mod 4096) − 2048 — multipliers deliberately
    * distinct from [[wavSamples]]' (31, 7), so an asset cross-wiring
    * slip (WAV law feeding the AVI audio track or vice versa) fails
    * the oracle. The video track is [[aviFrames]]' law unchanged.
    */
  def avSamples(d: Long): (Int, Array[Short]) = pcmLaw(d, 48 + d % 32, 37, 11)

  /** Interleaved audio+video AVI assets over `docs`: [[aviFrames]]'
    * video law + [[avSamples]]' audio law through
    * [[AviCodec.encodeAV]] — two strl entries, per frame one '00db'
    * DIB chunk then one '01wb' PCM chunk of the near-equal split.
    */
  def synthAvAssets(docs: DataFrame): Dataset[MediaRecord] =
    synthAssets(docs, "video/avi") { d =>
      val (rate, samples) = avSamples(d)
      AviCodec.encodeAV(aviFrames(d), fps = 10, samples, rate)
    }

  /** Decode interleaved AV assets ([[AviCodec.decodeAV]] — throws on
    * malformed) and emit integer features over BOTH decoded tracks:
    * video dims/frame count and the frame-and-position-weighted wsum_r
    * (frame order, [[decodeAviFeatures]]' discipline); audio rate /
    * sample count / Σs / the position-weighted Σ(i+1)·sᵢ over the
    * RE-CONCATENATED pcm stream — the feature that breaks if the
    * interleaved '01wb' chunks come back in the wrong order or the
    * split arithmetic slips; and the interleave structure itself
    * (chunk count = frame count, first chunk's sample count = the
    * near-equal-split law).
    */
  def decodeAvFeatures(media: Dataset[MediaRecord]): DataFrame =
    perAsset(media, "media_id", "width", "height", "n_frames", "wsum_r",
        "sample_rate", "n_samples", "sum_s", "wsum_s", "n_chunks",
        "first_chunk_n") { m =>
      val v = AviCodec.decodeAV(m.payload)
      val (sum, wsum) = pcmSums(v.samples)
      Iterator((m.media_id, v.width.toLong, v.height.toLong,
        v.frames.length.toLong, videoSums(v.frames)(3), v.sampleRate.toLong,
        v.samples.length.toLong, sum, wsum, v.chunkSamples.length.toLong,
        v.chunkSamples.head.toLong))
    }

  /** Image-probe embedding from DECODED pixels: [[probe]] on the one
    * image. Output (vec_id, embedding float[8]).
    */
  def bmpProbeEmbeddings(media: Dataset[MediaRecord]): DataFrame =
    embed(media) { p =>
      val img = BmpCodec.decode(p)
      probe(_ => img)
    }
}
