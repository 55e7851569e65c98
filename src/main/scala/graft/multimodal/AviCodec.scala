package graft.multimodal

import java.nio.{ByteBuffer, ByteOrder}

/** Minimal REAL codec for uncompressed 24-bit AVI — the RIFF video
  * container (Microsoft "AVI RIFF File Reference" layout): a 'RIFF'
  * form of type 'AVI ' holding a nested LIST tree —
  *
  * {{{
  * RIFF 'AVI '
  *   LIST 'hdrl'
  *     avih (56-byte main header: frame period, total frames, streams,
  *           width, height, ...)
  *     LIST 'strl'
  *       strh (56-byte stream header: fccType 'vids', handler 'DIB ',
  *             scale/rate, length in frames)
  *       strf (40-byte BITMAPINFOHEADER — the same DIB header BMP uses)
  *   LIST 'movi'
  *     00db <DIB pixel array>   (one uncompressed frame, repeated)
  * }}}
  *
  * Completing the modality set next to [[WavCodec]] (audio) and
  * [[BmpCodec]] (image): what makes video decode GENUINE work beyond
  * those two is the NESTED chunk grammar — a LIST's payload begins with
  * a 4-byte list type and then holds child chunks, so the walker must
  * recurse (hdrl inside RIFF, strl inside hdrl) while still skipping
  * unknown chunks word-aligned at every level, and the frame payloads
  * reuse the exact DIB pixel layout BMP established (bottom-up rows,
  * BGR, 4-byte row padding — [[BmpCodec.decodeDib]] is shared, not
  * duplicated). The decoder cross-checks avih's declared frame count
  * and dimensions against strf and against the '00db' chunks actually
  * present, so a payload only decodes if the container is coherent.
  *
  * Supported surface (rejected loudly like the other codecs): one
  * 'vids' stream, or 'vids' then a mono PCM-16 'auds' stream
  * interleaved per frame ([[encodeAV]]); 24-bit BI_RGB frames in '00db'
  * (uncompressed) chunks. One writer and one chunk walker serve both
  * layouts; the strf bodies are [[BmpCodec]]'s BITMAPINFOHEADER and
  * [[WavCodec]]'s PCMWAVEFORMAT code, not copies. Scale stance identical to [[WavCodec]]: stateless per-row
  * byte work inside `mapPartitions`, payloads never shuffled except as
  * the opaque binary column they arrive in.
  */
object AviCodec {

  /** Decoded video: per-second frame rate (rate/scale as written) and
    * the frames in presentation order, each a top-down [[BmpCodec.BmpImage]].
    */
  final case class AviVideo(fps: Int, frames: Array[BmpCodec.BmpImage]) {
    def width: Int = frames.head.width
    def height: Int = frames.head.height
  }

  /** Decoded AV asset: frames in presentation order, the PCM stream
    * re-CONCATENATED from the interleaved '01wb' chunks in order, and
    * the per-chunk sample counts (the interleave split itself — a
    * decoder output so the split law is certifiable).
    */
  final case class AviAV(fps: Int, sampleRate: Int,
      frames: Array[BmpCodec.BmpImage], samples: Array[Short],
      chunkSamples: Array[Int]) {
    def width: Int = frames.head.width
    def height: Int = frames.head.height
  }

  /** Samples of interleave chunk `t` of `nf`, for `n` total samples:
    * near-equal blocks, the remainder spread over the FIRST n mod nf
    * chunks (integer-exact, so an oracle can state it).
    */
  def chunkLen(n: Int, nf: Int, t: Int): Int =
    n / nf + (if (t < n % nf) 1 else 0)

  /** Encode frames (all same dimensions) as a canonical uncompressed
    * 24-bit AVI with one 'vids' DIB stream at `fps` frames/second.
    */
  def encode(frames: Array[BmpCodec.BmpImage], fps: Int): Array[Byte] =
    write(frames, fps, None)

  /** Encode frames + mono PCM-16 audio as a canonical interleaved AVI:
    * two strl entries (vids then auds), movi holding per frame t one
    * '00db' DIB chunk followed by one '01wb' chunk of [[chunkLen]]
    * samples.
    */
  def encodeAV(frames: Array[BmpCodec.BmpImage], fps: Int,
      samples: Array[Short], sampleRate: Int): Array[Byte] = {
    require(samples.length >= frames.length,
      s"need >= 1 sample per interleave chunk: ${samples.length} samples, " +
        s"${frames.length} frames")
    write(frames, fps, Some((samples, sampleRate)))
  }

  /** Parse a single-stream AVI payload: one 'vids' strl, 24-bit BI_RGB
    * '00db' frames ([[parse]] states what is refused and skipped).
    */
  def decode(bytes: Array[Byte]): AviVideo = {
    val v = parse(bytes, audio = false, "not an AVI")
    AviVideo(v.fps, v.frames)
  }

  /** Decode attempt as a predicate — the cross-modal integrity audits'
    * "asset is decodable" test (a malformed payload is data, not a bug).
    */
  def tryDecode(bytes: Array[Byte]): Option[AviVideo] =
    try Some(decode(bytes)) catch { case _: IllegalArgumentException => None }

  /** Parse an interleaved AV payload: exactly two streams in vids-then-
    * auds strl order (chunk ids bind to streams by strl POSITION, so
    * order is structural, not stylistic), 24-bit BI_RGB '00db' frames,
    * PCM-16 mono '01wb' audio ([[parse]] states what is refused).
    */
  def decodeAV(bytes: Array[Byte]): AviAV = parse(bytes, audio = true, "not an AV AVI")

  /** [[decodeAV]] as a predicate, [[tryDecode]]'s discipline. */
  def tryDecodeAV(bytes: Array[Byte]): Option[AviAV] =
    try Some(decodeAV(bytes)) catch { case _: IllegalArgumentException => None }

  // ------------------------------------------------------------------
  // The one writer and the one walker. A container carries one 'vids'
  // stream, or 'vids' then 'auds' — the canonical AV shape the
  // Microsoft AVI RIFF reference describes: stream n's chunks are
  // tagged '<nn>db'/'<nn>wb' by the stream's POSITION among the strl
  // lists, strf means BITMAPINFOHEADER in a vids strl but
  // PCMWAVEFORMAT in an auds strl, and a writer interleaves one
  // frame's worth of audio after each video frame so a player never
  // seeks.
  // ------------------------------------------------------------------

  private def layout(audio: Boolean): Seq[String] =
    if (audio) Seq("vids", "auds") else Seq("vids")

  private def write(frames: Array[BmpCodec.BmpImage], fps: Int,
      pcm: Option[(Array[Short], Int)]): Array[Byte] = {
    require(frames.nonEmpty, "AVI needs at least one frame")
    val w = frames.head.width
    val h = frames.head.height
    require(frames.forall(f => f.width == w && f.height == h),
      "all AVI frames must share dimensions")
    val nf = frames.length
    val (samples, sampleRate) = pcm.getOrElse((Array.emptyShortArray, 0))
    val n = samples.length
    val audio = pcm.isDefined
    val dibLen = (BmpCodec.rowSize(w) * h).toInt // even (rowSize is a multiple of 4)
    // Sizes, inside out: movi list = 'movi' + per frame an 8-byte chunk
    // header + dib (+ an 8-byte header + its PCM share with audio).
    val moviLen = 4 + nf * (8 + dibLen) + (if (audio) nf * 8 + 2 * n else 0)
    val strlVLen = 4 + (8 + 56) + (8 + 40) // 'strl' + strh + strf
    val strlALen = 4 + (8 + 56) + (8 + 16)
    val hdrlLen = 4 + (8 + 56) + (8 + strlVLen) + // 'hdrl' + avih + LIST strl
      (if (audio) 8 + strlALen else 0)
    val riffLen = 4 + (8 + hdrlLen) + (8 + moviLen) // 'AVI ' + both LISTs
    val buf = ByteBuffer.allocate(8 + riffLen).order(ByteOrder.LITTLE_ENDIAN)

    def fourcc(s: String): Unit = buf.put(s.getBytes("US-ASCII"))
    def strh(fccType: String, handler: String, rate: Int, length: Int,
        suggested: Int, sampleSize: Int): Unit = {
      fourcc("strh"); buf.putInt(56)
      fourcc(fccType); fourcc(handler)
      buf.putInt(0) // dwFlags
        .putShort(0).putShort(0) // priority, language
        .putInt(0) // dwInitialFrames
        .putInt(1) // dwScale
        .putInt(rate) // dwRate (units/sec = rate / scale)
        .putInt(0) // dwStart
        .putInt(length) // dwLength, in frames or samples
        .putInt(suggested) // dwSuggestedBufferSize
        .putInt(-1) // dwQuality (default)
        .putInt(sampleSize) // dwSampleSize (0: one chunk per frame)
        .putShort(0).putShort(0).putShort(0).putShort(0) // rcFrame
    }
    fourcc("RIFF"); buf.putInt(riffLen); fourcc("AVI ")

    fourcc("LIST"); buf.putInt(hdrlLen); fourcc("hdrl")
    fourcc("avih"); buf.putInt(56)
    buf.putInt(1000000 / fps) // dwMicroSecPerFrame
      .putInt(dibLen * fps + 2 * sampleRate) // dwMaxBytesPerSec
      .putInt(0) // dwPaddingGranularity
      .putInt(0) // dwFlags
      .putInt(nf) // dwTotalFrames
      .putInt(0) // dwInitialFrames
      .putInt(layout(audio).length) // dwStreams
      .putInt(dibLen) // dwSuggestedBufferSize
      .putInt(w).putInt(h)
      .putInt(0).putInt(0).putInt(0).putInt(0) // dwReserved[4]

    fourcc("LIST"); buf.putInt(strlVLen); fourcc("strl")
    strh("vids", "DIB ", fps, nf, dibLen, 0)
    fourcc("strf"); buf.putInt(40)
    BmpCodec.putInfoHeader(buf, w, h, dibLen)
    if (audio) {
      fourcc("LIST"); buf.putInt(strlALen); fourcc("strl")
      // handler: none for raw PCM; sample size: bytes per mono PCM-16 sample
      strh("auds", "\u0000" * 4, sampleRate, n, 2 * chunkLen(n, nf, 0), 2)
      fourcc("strf"); buf.putInt(16)
      WavCodec.putPcmFormat(buf, sampleRate)
    }

    fourcc("LIST"); buf.putInt(moviLen); fourcc("movi")
    var off = 0
    frames.zipWithIndex.foreach { case (f, t) =>
      fourcc("00db"); buf.putInt(dibLen)
      buf.put(BmpCodec.encodeDib(f))
      if (audio) {
        val len = chunkLen(n, nf, t)
        fourcc("01wb"); buf.putInt(2 * len)
        var i = 0
        while (i < len) { buf.putShort(samples(off + i)); i += 1 }
        off += len
      }
    }
    buf.array()
  }

  /** Parse a container with the one recursive chunk walker. Streams
    * bind to strl lists by position against the layout (each strh must
    * name its position's type; avih must declare exactly the layout's
    * stream count), and movi chunks bind to streams by their '<nn>'
    * prefix: '00db' is a DIB frame, '01wb' a PCM chunk when the layout
    * has audio, '00dc' is refused. Unknown chunks AND unknown LISTs are
    * skipped word-aligned at every nesting level, as real writers emit
    * idx1, INFO lists, JUNK padding, etc. Throws
    * `IllegalArgumentException`, prefixed with `what`, on wrong magics,
    * a malformed chunk tree, stream count/type/order surprises,
    * non-24-bit or compressed frames, non-PCM-16-mono audio, odd audio
    * chunk bytes, header disagreements (avih vs strf dims, declared vs
    * present frame and sample counts, frame chunk size vs the DIB
    * arithmetic), or truncation.
    */
  private def parse(bytes: Array[Byte], audio: Boolean, what: String): AviAV = {
    def fail(msg: String) = throw new IllegalArgumentException(s"$what: $msg")
    if (bytes.length < 12) fail(s"only ${bytes.length} bytes (RIFF header is 12)")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = new Array[Byte](4)
    def fourcc(): String = { buf.get(magic); new String(magic, "US-ASCII") }
    if (fourcc() != "RIFF") fail("missing RIFF magic")
    buf.getInt // riff size — advisory; chunk walking is the truth
    if (fourcc() != "AVI ") fail("missing 'AVI ' form type")

    val streams = layout(audio)
    // Parsed state, filled in by the walk.
    var avihFrames = -1
    var avihW = -1
    var avihH = -1
    var fps = -1
    var dibLen = -1 // per-frame DIB bytes, known once the vids strf parses
    var strfW = -1
    var strfH = -1
    var sampleRate = -1
    var declaredSamples = -1
    var strlIndex = -1 // position of the strl being walked
    var curType = "" // fccType of the strl being walked
    val frames = scala.collection.mutable.ArrayBuffer.empty[BmpCodec.BmpImage]
    val samples = scala.collection.mutable.ArrayBuffer.empty[Short]
    val chunkSamples = scala.collection.mutable.ArrayBuffer.empty[Int]

    /** Walk the chunks of one level ending at `end`; `ctx` names the
      * enclosing list for error messages and dispatch.
      */
    def walk(end: Int, ctx: String): Unit = {
      while (buf.position() + 8 <= end) {
        val id = fourcc()
        val size = buf.getInt
        val body = buf.position()
        if (size < 0 || body.toLong + size > end)
          fail(s"$id chunk overruns $ctx")
        id match {
          case "LIST" =>
            if (size < 4) fail(s"LIST in $ctx too small ($size)")
            val listType = fourcc()
            (ctx, listType) match {
              case ("AVI ", "hdrl") => walk(body + size, "hdrl")
              case ("hdrl", "strl") =>
                strlIndex += 1
                curType = ""
                walk(body + size, "strl")
              case ("AVI ", "movi") => walk(body + size, "movi")
              case _ => // unknown list (INFO, odml, ...): skip whole
            }
          case "avih" if ctx == "hdrl" =>
            if (size < 56) fail(s"avih too small ($size)")
            val usPerFrame = buf.getInt
            buf.getInt; buf.getInt; buf.getInt
            avihFrames = buf.getInt
            buf.getInt
            val declared = buf.getInt
            if (declared != streams.length)
              fail(s"$declared streams (layout ${streams.mkString(" then ")} " +
                s"has ${streams.length})")
            buf.getInt
            avihW = buf.getInt
            avihH = buf.getInt
            if (avihW <= 0 || avihH <= 0) fail(s"avih dims ${avihW}x$avihH")
            if (usPerFrame <= 0) fail(s"frame period $usPerFrame us")
            fps = 1000000 / usPerFrame
          case "strh" if ctx == "strl" =>
            if (size < 56) fail(s"strh too small ($size)")
            curType = fourcc()
            if (!streams.lift(strlIndex).contains(curType))
              fail(s"stream $strlIndex is '$curType' " +
                s"(layout is ${streams.mkString(" then ")})")
            if (curType == "auds") {
              buf.getInt // handler
              buf.getInt; buf.getShort; buf.getShort; buf.getInt
              val scale = buf.getInt
              val rate = buf.getInt
              buf.getInt
              declaredSamples = buf.getInt
              if (scale != 1) fail(s"audio scale $scale (only 1 supported)")
              sampleRate = rate
            }
          case "strf" if ctx == "strl" && curType == "vids" =>
            if (size < 40) fail(s"vids strf too small ($size)")
            val (w, h, len) = BmpCodec.readInfoHeader(buf, bytes.length, fail)
            if (w != avihW || h != avihH)
              fail(s"strf ${w}x$h != avih ${avihW}x$avihH")
            strfW = w; strfH = h; dibLen = len
          case "strf" if ctx == "strl" && curType == "auds" =>
            if (size < 16) fail(s"auds strf too small ($size)")
            val (sps, blockAlign) = WavCodec.readPcmFormat(buf, fail)
            if (sps != sampleRate)
              fail(s"strf rate $sps != strh rate $sampleRate")
            if (blockAlign != 2) fail("block align != 2")
          case "strf" if ctx == "strl" =>
            fail("strf before strh")
          case "00db" if ctx == "movi" =>
            if (dibLen < 0) fail("frame chunk before vids strf")
            if (size != dibLen)
              fail(s"frame chunk $size bytes, DIB arithmetic says $dibLen")
            frames += BmpCodec.decodeDib(bytes, body, strfW, strfH)
          case "01wb" if ctx == "movi" && audio =>
            if (sampleRate <= 0) fail("audio chunk before auds strf")
            if (size % 2 != 0) fail(s"audio chunk $size bytes (odd for PCM-16)")
            val cn = size / 2
            var i = 0
            while (i < cn) { samples += buf.getShort(body + 2 * i); i += 1 }
            chunkSamples += cn
          case "00dc" if ctx == "movi" =>
            fail("compressed frame chunk 00dc unsupported")
          case _ => // unknown chunk (idx1, JUNK, vedt, ...): skip
        }
        buf.position(body + size + (size & 1)) // word-aligned advance
      }
    }
    walk(bytes.length, "AVI ")

    if (avihFrames < 0) fail("no avih header")
    if (dibLen < 0) fail("no vids strf")
    if (audio && sampleRate <= 0) fail("no auds strf")
    if (frames.isEmpty) fail("no movi frames")
    if (frames.length != avihFrames)
      fail(s"avih declares $avihFrames frames, movi holds ${frames.length}")
    if (audio && samples.length != declaredSamples)
      fail(s"auds strh declares $declaredSamples samples, movi holds " +
        s"${samples.length}")
    AviAV(fps, sampleRate, frames.toArray, samples.toArray, chunkSamples.toArray)
  }
}
