package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite

/** [[WavCodec]] / [[BmpCodec]] laws, independent of Spark: encode→decode
  * round-trips bit-exactly, malformed payloads refuse loudly, and the
  * two format quirks the oracled queries lean on — BMP row padding and
  * bottom-up row order — are pinned on hand-laid byte patterns.
  */
class CodecSpec extends AnyFunSuite {

  test("WAV: encode→decode round-trips samples and rate exactly") {
    for (d <- Seq(0L, 1L, 17L, 4095L)) {
      val (rate, samples) = Multimodal.wavSamples(d)
      val decoded = WavCodec.decode(WavCodec.encode(samples, rate))
      assert(decoded.sampleRate == rate)
      assert(decoded.samples.toSeq == samples.toSeq)
    }
    // Extremes survive (sign-sensitive: a byte-order bug flips these).
    val ext = Array[Short](Short.MinValue, -1, 0, 1, Short.MaxValue)
    assert(WavCodec.decode(WavCodec.encode(ext, 44100)).samples.toSeq == ext.toSeq)
  }

  test("WAV: decoder walks and skips unknown RIFF chunks") {
    // Insert a LIST chunk of junk between fmt and data — real writers
    // emit these; a 44-byte-offset "parser" would misread the samples.
    val base = WavCodec.encode(Array[Short](7, -7, 300), 8000)
    val (head, data) = base.splitAt(36) // RIFF..fmt block | data chunk
    val junk = "LIST".getBytes("US-ASCII") ++
      Array[Byte](6, 0, 0, 0) ++ Array.fill[Byte](6)(0x5a)
    val withJunk = head ++ junk ++ data
    assert(WavCodec.decode(withJunk).samples.toSeq == Seq[Short](7, -7, 300))
  }

  test("WAV: malformed payloads refuse loudly") {
    val good = WavCodec.encode(Array[Short](1, 2, 3), 8000)
    def bad(bytes: Array[Byte]) =
      intercept[IllegalArgumentException](WavCodec.decode(bytes))
    bad(good.take(20)) // truncated below header size
    bad("JUNK".getBytes ++ good.drop(4)) // wrong magic
    val nonPcm = good.clone; nonPcm(20) = 3 // format tag -> IEEE float
    bad(nonPcm)
    val stereo = good.clone; stereo(22) = 2 // channels -> 2
    bad(stereo)
    val deep = good.clone; deep(34) = 24 // bits -> 24
    bad(deep)
    assert(WavCodec.tryDecode(good).isDefined)
    assert(WavCodec.tryDecode(good.take(20)).isEmpty)
  }

  test("BMP: encode→decode round-trips all pad widths") {
    for (w <- 5 to 8; h <- Seq(1, 3)) { // pads 1, 2, 3, 0 bytes
      val n = w * h
      val img = BmpCodec.BmpImage(w, h,
        Array.tabulate(n)(i => (i * 7) % 256),
        Array.tabulate(n)(i => (i * 11 + 3) % 256),
        Array.tabulate(n)(i => (255 - i) % 256))
      val out = BmpCodec.decode(BmpCodec.encode(img))
      assert(out.width == w && out.height == h)
      assert(out.b.toSeq == img.b.toSeq && out.g.toSeq == img.g.toSeq &&
        out.r.toSeq == img.r.toSeq, s"w=$w h=$h")
    }
  }

  test("BMP: bottom-up storage and padding pinned on hand-laid bytes") {
    // 2x2 image, distinct channel values per pixel. Stored rows must be
    // bottom-up: first stored row = image row y=1. Row size 2*3=6 pads
    // to 8.
    val img = BmpCodec.BmpImage(2, 2,
      b = Array(10, 20, 30, 40), g = Array(11, 21, 31, 41),
      r = Array(12, 22, 32, 42))
    val bytes = BmpCodec.encode(img)
    assert(bytes.length == 54 + 16)
    // First stored pixel = image (x=0, y=1) -> b=30, g=31, r=32.
    assert((bytes(54) & 0xff) == 30 && (bytes(55) & 0xff) == 31 &&
      (bytes(56) & 0xff) == 32)
    // Padding bytes close each stored row.
    assert(bytes(60) == 0 && bytes(61) == 0 && bytes(68) == 0 && bytes(69) == 0)
    // Second stored row starts at the padded offset with image y=0.
    assert((bytes(62) & 0xff) == 10)
    val back = BmpCodec.decode(bytes)
    assert(back.b.toSeq == img.b.toSeq && back.r.toSeq == img.r.toSeq)
  }

  test("BMP: malformed payloads refuse loudly") {
    val good = BmpCodec.encode(Multimodal.bmpImage(5L))
    def bad(bytes: Array[Byte]) =
      intercept[IllegalArgumentException](BmpCodec.decode(bytes))
    bad(good.take(40)) // truncated headers
    val magic = good.clone; magic(0) = 'X'.toByte
    bad(magic)
    val bpp8 = good.clone; bpp8(28) = 8 // bits per pixel -> 8
    bad(bpp8)
    val rle = good.clone; rle(30) = 1 // compression -> BI_RLE8
    bad(rle)
    bad(good.dropRight(4)) // pixel data overruns payload
    assert(BmpCodec.tryDecode(good).isDefined)
  }

  test("AVI: encode→decode round-trips frames, dims, and fps exactly") {
    for (d <- Seq(0L, 5L, 17L, 100L)) {
      val frames = Multimodal.aviFrames(d)
      val v = AviCodec.decode(AviCodec.encode(frames, fps = 10))
      assert(v.fps == 10)
      assert(v.frames.length == frames.length)
      assert(v.width == frames.head.width && v.height == frames.head.height)
      for (t <- frames.indices) {
        assert(v.frames(t).b.toSeq == frames(t).b.toSeq, s"d=$d t=$t b")
        assert(v.frames(t).g.toSeq == frames(t).g.toSeq, s"d=$d t=$t g")
        assert(v.frames(t).r.toSeq == frames(t).r.toSeq, s"d=$d t=$t r")
      }
    }
  }

  test("AVI: decoder skips unknown chunks and LISTs at every nesting level") {
    val frames = Multimodal.aviFrames(3L)
    val base = AviCodec.encode(frames, fps = 10)
    def chunk(id: String, body: Array[Byte]): Array[Byte] =
      id.getBytes("US-ASCII") ++
        Array[Byte]((body.length & 0xff).toByte, 0, 0, 0) ++ body ++
        (if (body.length % 2 == 1) Array[Byte](0) else Array.empty[Byte])
    def patchRiffSize(bytes: Array[Byte]): Array[Byte] = {
      val out = bytes.clone
      val sz = bytes.length - 8
      out(4) = (sz & 0xff).toByte; out(5) = ((sz >> 8) & 0xff).toByte
      out(6) = ((sz >> 16) & 0xff).toByte; out(7) = ((sz >> 24) & 0xff).toByte
      out
    }
    // 1) Unknown top-level chunks: JUNK (odd size — exercises the word
    //    alignment) before hdrl, and an idx1 after movi.
    val junk = chunk("JUNK", Array.fill[Byte](7)(0x5a))
    val idx1 = chunk("idx1", Array.fill[Byte](16)(0x11))
    val withTop = patchRiffSize(base.take(12) ++ junk ++ base.drop(12) ++ idx1)
    val v1 = AviCodec.decode(withTop)
    assert(v1.frames.length == frames.length)
    assert(v1.frames(0).r.toSeq == frames(0).r.toSeq)
    // 2) Unknown top-level LIST (INFO) — must skip the whole list, not
    //    recurse into its children.
    // LIST size covers the 4-byte list type plus the 10-byte ISFT chunk.
    val info = "LIST".getBytes("US-ASCII") ++ Array[Byte](14, 0, 0, 0) ++
      "INFO".getBytes("US-ASCII") ++ chunk("ISFT", Array[Byte](0x41, 0x42))
    val withList = patchRiffSize(base.take(12) ++ info ++ base.drop(12))
    assert(AviCodec.decode(withList).frames.length == frames.length)
  }

  test("AVI: incoherent containers refuse loudly") {
    val frames = Multimodal.aviFrames(7L) // w=8 h=4 nf=3
    val good = AviCodec.encode(frames, fps = 10)
    def bad(bytes: Array[Byte]) =
      intercept[IllegalArgumentException](AviCodec.decode(bytes))
    bad(good.take(10)) // below RIFF header
    bad("JUNK".getBytes ++ good.drop(4)) // wrong magic
    val notAvi = good.clone; notAvi(8) = 'W'.toByte // form type -> WVI
    bad(notAvi)
    // avih declares one more frame than movi holds (dwTotalFrames at
    // offset 12 (RIFF) + 12 (LIST hdr) + 8 (avih hdr) + 16).
    val extra = good.clone; extra(48) = (frames.length + 1).toByte
    bad(extra)
    // strf bpp -> 8: avih chunk spans 24..87, LIST strl header 88..99,
    // strh chunk 100..163, strf body at 172: biBitCount at 172 + 14.
    val bpp = good.clone; bpp(186) = 8
    bad(bpp)
    // Truncated movi: drop the last frame's tail bytes.
    bad(good.dropRight(4))
    assert(AviCodec.tryDecode(good).isDefined)
    assert(AviCodec.tryDecode(good.take(10)).isEmpty)
  }

  test("AV AVI: encode→decode round-trips both tracks and the interleave split") {
    for (d <- Seq(0L, 5L, 6L, 17L, 100L)) {
      val frames = Multimodal.aviFrames(d)
      val (rate, samples) = Multimodal.avSamples(d)
      val v = AviCodec.decodeAV(AviCodec.encodeAV(frames, 10, samples, rate))
      assert(v.fps == 10 && v.sampleRate == rate)
      assert(v.frames.length == frames.length)
      for (t <- frames.indices) {
        assert(v.frames(t).b.toSeq == frames(t).b.toSeq, s"d=$d t=$t b")
        assert(v.frames(t).r.toSeq == frames(t).r.toSeq, s"d=$d t=$t r")
      }
      assert(v.samples.toSeq == samples.toSeq, s"d=$d pcm")
      // One audio chunk per frame, the near-equal split law exactly.
      assert(v.chunkSamples.length == frames.length)
      assert(v.chunkSamples.toSeq == frames.indices.map(t =>
        AviCodec.chunkLen(samples.length, frames.length, t)), s"d=$d split")
      assert(v.chunkSamples.sum == samples.length)
    }
  }

  test("AV AVI: stream-count/type/format incoherence refuses loudly both ways") {
    val frames = Multimodal.aviFrames(7L)
    val (rate, samples) = Multimodal.avSamples(7L)
    val good = AviCodec.encodeAV(frames, 10, samples, rate)
    def bad(bytes: Array[Byte]) =
      intercept[IllegalArgumentException](AviCodec.decodeAV(bytes))
    // The single-stream decoder refuses the 2-stream container and the
    // AV decoder refuses the single-stream one — neither silently reads
    // half an asset.
    intercept[IllegalArgumentException](AviCodec.decode(good))
    bad(AviCodec.encode(frames, fps = 10))
    // Layout offsets (fixed by encodeAV): stream-0 fccType at 108,
    // auds strh dwLength at 264, PCMWAVEFORMAT wFormatTag/nChannels at
    // 296/298.
    val swapped = good.clone
    "auds".getBytes("US-ASCII").copyToArray(swapped, 108)
    bad(swapped) // stream 0 must be vids
    val nonPcm = good.clone; nonPcm(296) = 2
    bad(nonPcm)
    val stereo = good.clone; stereo(298) = 2
    bad(stereo)
    val declared = good.clone; declared(264) = (declared(264) + 1).toByte
    bad(declared) // strh sample count != movi pcm total
    bad(good.dropRight(4)) // truncated movi
    assert(AviCodec.tryDecodeAV(good).isDefined)
    assert(AviCodec.tryDecodeAV(good.take(10)).isEmpty)
  }

  test("class videos: one-byte-in-one-frame perturbation, valid bytes, stable shape per class") {
    for (c <- 0 until 16) {
      val a = Multimodal.aviClassFrames(c.toLong) // d/16 even
      val p = Multimodal.aviClassFrames(c.toLong + 16L) // d/16 odd
      assert(a.length == p.length)
      assert(a.head.width == p.head.width && a.head.height == p.head.height)
      // Differ in exactly frame 0's (0,0) blue channel, by exactly 1.
      assert(p(0).b(0) - a(0).b(0) == 1)
      assert(a(0).b.drop(1).toSeq == p(0).b.drop(1).toSeq)
      for (t <- 1 until a.length) {
        assert(a(t).b.toSeq == p(t).b.toSeq, s"c=$c t=$t")
      }
      for (t <- a.indices) {
        assert(a(t).g.toSeq == p(t).g.toSeq && a(t).r.toSeq == p(t).r.toSeq)
        assert((a(t).b ++ a(t).g ++ a(t).r).forall(v => v >= 0 && v <= 255))
      }
    }
  }

  private def md5(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map(b => f"${b & 0xff}%02x").mkString

  test("codec output bytes pinned by MD5 over the Multimodal laws") {
    import Multimodal._
    def wav(law: Long => (Int, Array[Short]))(d: Long) = {
      val (rate, samples) = law(d); WavCodec.encode(samples, rate)
    }
    val encoders: Seq[(String, Long => Array[Byte])] = Seq(
      "wav" -> wav(wavSamples),
      "wavClass" -> wav(wavClassSamples),
      "bmp" -> (d => BmpCodec.encode(bmpImage(d))),
      "bmpClass" -> (d => BmpCodec.encode(bmpClassImage(d))),
      "avi" -> (d => AviCodec.encode(aviFrames(d), fps = 10)),
      "aviClass" -> (d => AviCodec.encode(aviClassFrames(d), fps = 10)),
      "av" -> { d =>
        val (rate, samples) = avSamples(d)
        AviCodec.encodeAV(aviFrames(d), 10, samples, rate)
      })
    // Captured from the encoders before the shared-header fold.
    val pinned = Map(
      "wav/0" -> "fe14d2cefde12bf15daaa00af01aca48",
      "wav/5" -> "af187a5de5b88509cd27779611d40ed0",
      "wav/17" -> "d96539cb26f536fb5e547166ba13f203",
      "wavClass/0" -> "fe14d2cefde12bf15daaa00af01aca48",
      "wavClass/5" -> "0b1ca67afcca04edd9318c6263a39b96",
      "wavClass/17" -> "2dcf3e460041000ce09e5942b5b8e5f7",
      "bmp/0" -> "0e1b660dbf9b456ea52d69e546f71ac2",
      "bmp/5" -> "e1aac71de42e82868870385738342d9b",
      "bmp/17" -> "32a1a9cd8d2b56e3e1cf9ccc0bedb9e6",
      "bmpClass/0" -> "0e1b660dbf9b456ea52d69e546f71ac2",
      "bmpClass/5" -> "a1c8f4c23c13f37c7becc89b91713757",
      "bmpClass/17" -> "db640610509573bea6a57fbddadc4e50",
      "avi/0" -> "a9a433944cf0957beb99d07e78e3396e",
      "avi/5" -> "df3796019293ffb8201732abaca29b60",
      "avi/17" -> "af71859949fc4b56706988baac5497c1",
      "aviClass/0" -> "a9a433944cf0957beb99d07e78e3396e",
      "aviClass/5" -> "0acae1997580ab03d5b95a15d82f0d17",
      "aviClass/17" -> "8e7ed6a969524bee0e3e734ddff60e40",
      "av/0" -> "89a80a614b19e8a1b3a31913b4398b2c",
      "av/5" -> "f59ce1cf05170b96f1016c55330092e7",
      "av/17" -> "cc5fc46a375f9cbaaa556be384186b22")
    val got = for ((name, enc) <- encoders; d <- Seq(0L, 5L, 17L))
      yield s"$name/$d" -> md5(enc(d))
    assert(got.toMap == pinned)
  }

  test("oversized DIB dims refuse as malformed instead of escaping tryDecode") {
    // 24-bit BI_RGB at width 0x30000000: 3·w overflows Int, so a row
    // stride computed in Int goes negative, passes the overrun check and
    // dies in `new Array[Int](w·h < 0)`. Height 3 keeps w·h negative,
    // so nothing large is ever allocated.
    val w = 0x30000000
    val bmp = BmpCodec.encode(Multimodal.bmpImage(0L))
    java.nio.ByteBuffer.wrap(bmp).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(18, w).putInt(22, 3)
    intercept[IllegalArgumentException](BmpCodec.decode(bmp))
    assert(BmpCodec.tryDecode(bmp).isEmpty)
    // The AVI equivalent: avih and strf both declare the same dims.
    // Offsets (fixed by encode): avih width/height at 64/68, strf
    // biWidth/biHeight at 176/180.
    val avi = AviCodec.encode(Multimodal.aviFrames(0L), fps = 10)
    val ab = java.nio.ByteBuffer.wrap(avi).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    ab.putInt(64, w).putInt(68, 3).putInt(176, w).putInt(180, 3)
    intercept[IllegalArgumentException](AviCodec.decode(avi))
    assert(AviCodec.tryDecode(avi).isEmpty)
  }

  test("class images: one-pixel perturbation, valid bytes, stable dims per class") {
    for (c <- 0 until 16) {
      val a = Multimodal.bmpClassImage(c.toLong) // d/16 even
      val p = Multimodal.bmpClassImage(c.toLong + 16L) // d/16 odd
      assert(a.width == p.width && a.height == p.height)
      // Differ in exactly the (0,0) blue channel, by exactly 1.
      assert(p.b(0) - a.b(0) == 1)
      assert(a.b.drop(1).toSeq == p.b.drop(1).toSeq)
      assert(a.g.toSeq == p.g.toSeq && a.r.toSeq == p.r.toSeq)
      assert((a.b ++ a.g ++ a.r ++ p.b).forall(v => v >= 0 && v <= 255))
    }
  }
}
