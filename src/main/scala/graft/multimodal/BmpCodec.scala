package graft.multimodal

import java.nio.{ByteBuffer, ByteOrder}

/** Minimal REAL codec for uncompressed 24-bit BMP (the Windows DIB
  * format: 14-byte BITMAPFILEHEADER + 40-byte BITMAPINFOHEADER +
  * BGR pixel rows, each row padded to a 4-byte boundary, stored
  * BOTTOM-UP). The two things that make decoding this format genuine
  * work — and that the oracle-checked queries verify byte-for-byte —
  * are the row padding arithmetic (rowSize = ⌈3·w/4⌉·4, so widths
  * 5,6,7,8 pad by 1,2,3,0 bytes) and the bottom-up row order (pixel
  * (x, y=0) lives in the LAST stored row).
  *
  * Same scale stance as [[WavCodec]]: stateless per-row byte work
  * inside `mapPartitions`, nothing driver-side.
  */
object BmpCodec {

  /** Decoded image: dimensions + pixels as (b, g, r) channel arrays in
    * row-major TOP-DOWN order (index y*width + x, y=0 the top row) —
    * the decoder undoes the file's bottom-up storage.
    */
  final case class BmpImage(width: Int, height: Int,
      b: Array[Int], g: Array[Int], r: Array[Int])

  /** DIB row stride: each pixel row padded to a 4-byte boundary. Shared
    * with [[AviCodec]], whose '00db' frame chunks carry the same pixel
    * layout (a DIB with no file header).
    */
  private[multimodal] def rowSize(width: Int): Long = (3L * width + 3) / 4 * 4

  /** Serialize the DIB pixel array alone (bottom-up rows, BGR, 4-byte
    * row padding) — the layout both a BMP's pixel section and an AVI
    * '00db' frame chunk carry.
    */
  private[multimodal] def encodeDib(img: BmpImage): Array[Byte] = {
    val rs = rowSize(img.width).toInt
    val out = new Array[Byte](rs * img.height)
    var y = img.height - 1 // bottom-up: last image row stored first
    var p = 0
    while (y >= 0) {
      var x = 0
      while (x < img.width) {
        val i = y * img.width + x
        out(p) = img.b(i).toByte
        out(p + 1) = img.g(i).toByte
        out(p + 2) = img.r(i).toByte
        x += 1; p += 3
      }
      p += rs - 3 * img.width // row padding (written as zeros)
      y -= 1
    }
    out
  }

  /** Parse a DIB pixel array at `offset` (known dimensions): undo the
    * bottom-up row order, skip the per-row padding. Bounds must have
    * been validated by the caller against `rowSize(width) * height`.
    */
  private[multimodal] def decodeDib(bytes: Array[Byte], offset: Int,
      width: Int, height: Int): BmpImage = {
    val rs = rowSize(width).toInt
    val n = width * height
    val (b, g, r) = (new Array[Int](n), new Array[Int](n), new Array[Int](n))
    var y = 0
    while (y < height) {
      // Stored row y holds image row (height-1-y): undo bottom-up order.
      val iy = height - 1 - y
      var x = 0
      var p = offset + y * rs
      while (x < width) {
        val i = iy * width + x
        b(i) = bytes(p) & 0xff
        g(i) = bytes(p + 1) & 0xff
        r(i) = bytes(p + 2) & 0xff
        x += 1; p += 3
      }
      y += 1
    }
    BmpImage(width, height, b, g, r)
  }

  /** The 40-byte BITMAPINFOHEADER of a 24-bit BI_RGB DIB holding
    * `dibLen` pixel bytes — a BMP's second header and an AVI 'vids'
    * stream's strf body alike.
    */
  private[multimodal] def putInfoHeader(buf: ByteBuffer, width: Int,
      height: Int, dibLen: Int): ByteBuffer =
    buf.putInt(40).putInt(width).putInt(height)
      .putShort(1) // planes
      .putShort(24) // bits per pixel
      .putInt(0) // BI_RGB (uncompressed)
      .putInt(dibLen).putInt(2835).putInt(2835).putInt(0).putInt(0)

  /** Read a BITMAPINFOHEADER at `buf`'s position (biSize is the
    * caller's to judge) and refuse everything outside the supported
    * surface: non-positive dims (top-down DIBs included), planes != 1,
    * a bit depth other than 24, compression, and a pixel array larger
    * than the `room` bytes the payload has for it. The array size is
    * computed in Long, so a hostile width cannot wrap the row stride
    * negative and slip past that bound into a huge or negative
    * allocation. Returns (width, height, pixel-array bytes).
    */
  private[multimodal] def readInfoHeader(buf: ByteBuffer, room: Long,
      fail: String => Nothing): (Int, Int, Int) = {
    buf.getInt // biSize
    val width = buf.getInt
    val height = buf.getInt
    if (width <= 0) fail(s"width $width")
    if (height <= 0) fail(s"height $height (top-down DIBs unsupported)")
    if (buf.getShort != 1) fail("planes != 1")
    val bpp = buf.getShort
    if (bpp != 24) fail(s"$bpp bpp (only 24 supported)")
    if (buf.getInt != 0) fail("compressed DIB unsupported")
    val dibLen = rowSize(width) * height
    if (dibLen > room)
      fail(s"${width}x$height pixel data ($dibLen bytes) overruns payload")
    (width, height, dibLen.toInt)
  }

  /** Encode top-down row-major (b, g, r) channel arrays as a 24-bit
    * uncompressed BMP (bottom-up storage, padded rows).
    */
  def encode(img: BmpImage): Array[Byte] = {
    val dib = encodeDib(img)
    val buf = ByteBuffer.allocate(54 + dib.length).order(ByteOrder.LITTLE_ENDIAN)
    // BITMAPFILEHEADER
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + dib.length)
      .putShort(0).putShort(0).putInt(54)
    putInfoHeader(buf, img.width, img.height, dib.length)
    buf.put(dib)
    buf.array()
  }

  /** Parse a BMP payload. Throws `IllegalArgumentException` on wrong
    * magic, truncated data, compressed or non-24-bit images, or a
    * top-down (negative-height) DIB — supported surface only, loudly.
    */
  def decode(bytes: Array[Byte]): BmpImage = {
    def fail(msg: String) = throw new IllegalArgumentException(s"not a BMP: $msg")
    if (bytes.length < 54) fail(s"only ${bytes.length} bytes (headers are 54)")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    if (buf.get() != 'B'.toByte || buf.get() != 'M'.toByte) fail("missing BM magic")
    buf.getInt // file size — advisory
    buf.getShort; buf.getShort
    val dataOffset = buf.getInt
    if (dataOffset < 54) fail(s"pixel data offset $dataOffset inside the headers")
    val hdrSize = buf.getInt(14) // biSize, re-read by readInfoHeader
    if (hdrSize < 40) fail(s"DIB header $hdrSize < BITMAPINFOHEADER 40")
    val (width, height, _) =
      readInfoHeader(buf, bytes.length.toLong - dataOffset, fail)
    decodeDib(bytes, dataOffset, width, height)
  }

  def tryDecode(bytes: Array[Byte]): Option[BmpImage] =
    try Some(decode(bytes)) catch { case _: IllegalArgumentException => None }
}
