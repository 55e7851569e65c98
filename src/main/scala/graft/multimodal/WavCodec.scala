package graft.multimodal

import java.nio.{ByteBuffer, ByteOrder}

/** Minimal REAL codec for canonical PCM WAV (RIFF) files — the public
  * format every audio toolchain reads; layout per the Microsoft/IBM
  * RIFF spec (little-endian chunks: "RIFF"+size+"WAVE", "fmt " with
  * PCM format tag 1, "data" with raw samples).
  *
  * This replaces the decode half of [[Multimodal.stubDecodeFeatures]]'s
  * "a real codec drops in here" promise for one public format: the
  * decoder WALKS chunks (skipping unknown ones, as real writers emit
  * LIST/fact chunks), validates magics and the PCM format tag, and
  * reconstructs the sample array from the data chunk — so a payload
  * only decodes if its bytes actually form a well-formed WAV. Mono
  * 16-bit PCM only: the feature-extraction tier here consumes one
  * channel, and rejecting the rest loudly beats mis-reading it.
  *
  * Scale stance: encode/decode are per-row byte work with zero driver
  * state — they run inside `mapPartitions` (codec init amortized per
  * partition, the [[Multimodal]] pattern) and parallelize trivially;
  * payload bytes never hit a shuffle except as the opaque binary
  * column they ride in on.
  */
object WavCodec {

  /** Decoded audio: sample rate + the PCM samples (mono 16-bit). */
  final case class WavAudio(sampleRate: Int, samples: Array[Short])

  /** The 16-byte PCMWAVEFORMAT block of mono PCM-16 at `sampleRate` —
    * a WAV's fmt chunk body and an AVI 'auds' stream's strf body alike.
    */
  private[multimodal] def putPcmFormat(buf: ByteBuffer, sampleRate: Int): ByteBuffer =
    buf.putShort(1) // PCM format tag
      .putShort(1) // channels: mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2) // byte rate = rate * channels * 2
      .putShort(2) // block align
      .putShort(16) // bits per sample

  /** Read a PCMWAVEFORMAT block at `buf`'s position and refuse anything
    * but mono PCM-16 (format tag 1, one channel, 16 bits). Returns
    * (sample rate, block align) — the byte rate is advisory.
    */
  private[multimodal] def readPcmFormat(buf: ByteBuffer,
      fail: String => Nothing): (Int, Int) = {
    val fmtTag = buf.getShort
    if (fmtTag != 1) fail(s"format tag $fmtTag (only PCM=1 supported)")
    val channels = buf.getShort
    if (channels != 1) fail(s"$channels channels (only mono supported)")
    val sampleRate = buf.getInt
    buf.getInt // byte rate
    val blockAlign = buf.getShort
    val bits = buf.getShort
    if (bits != 16) fail(s"$bits bits/sample (only 16 supported)")
    (sampleRate, blockAlign)
  }

  /** Encode mono 16-bit PCM samples as a canonical 44-byte-header WAV. */
  def encode(samples: Array[Short], sampleRate: Int): Array[Byte] = {
    val dataLen = samples.length * 2
    val buf = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
    putPcmFormat(buf, sampleRate)
    buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(buf.putShort)
    buf.array()
  }

  /** Parse a WAV payload. Throws `IllegalArgumentException` on anything
    * that is not a well-formed mono 16-bit PCM WAV: wrong magic,
    * truncated header or data, non-PCM format tag, unsupported channel
    * count / bit depth, or a missing data chunk. Unknown chunks between
    * fmt and data are skipped (word-aligned, per RIFF).
    */
  def decode(bytes: Array[Byte]): WavAudio = {
    def fail(msg: String) = throw new IllegalArgumentException(s"not a WAV: $msg")
    if (bytes.length < 44) fail(s"only ${bytes.length} bytes (header is 44)")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = new Array[Byte](4)
    buf.get(magic)
    if (!java.util.Arrays.equals(magic, "RIFF".getBytes("US-ASCII")))
      fail("missing RIFF magic")
    buf.getInt // riff size — advisory; real readers trust chunk walking
    buf.get(magic)
    if (!java.util.Arrays.equals(magic, "WAVE".getBytes("US-ASCII")))
      fail("missing WAVE form type")
    var sampleRate = -1
    var haveFmt = false
    // Chunk walk: read (id, size) pairs until the data chunk.
    while (buf.remaining() >= 8) {
      buf.get(magic)
      val size = buf.getInt
      val id = new String(magic, "US-ASCII")
      if (size < 0 || size > buf.remaining()) fail(s"$id chunk overruns payload")
      if (id == "fmt ") {
        if (size < 16) fail(s"fmt chunk too small ($size)")
        val p0 = buf.position()
        sampleRate = readPcmFormat(buf, fail)._1
        buf.position(p0 + size + (size & 1)) // word-aligned skip of extensions
        haveFmt = true
      } else if (id == "data") {
        if (!haveFmt) fail("data chunk before fmt chunk")
        if (size % 2 != 0) fail(s"odd data size $size for 16-bit samples")
        val samples = new Array[Short](size / 2)
        var i = 0
        while (i < samples.length) { samples(i) = buf.getShort; i += 1 }
        return WavAudio(sampleRate, samples)
      } else {
        buf.position(buf.position() + size + (size & 1)) // skip unknown chunk
      }
    }
    fail("no data chunk")
  }

  /** Decode attempt as a predicate — the cross-modal integrity audit's
    * "asset is decodable" test (a malformed payload is data, not a bug).
    */
  def tryDecode(bytes: Array[Byte]): Option[WavAudio] =
    try Some(decode(bytes)) catch { case _: IllegalArgumentException => None }
}
