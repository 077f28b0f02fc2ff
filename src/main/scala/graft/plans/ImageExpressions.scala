package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** A pure-JVM toy codec for the multimodal decode path (SURVEY §2 G2):
  * uncompressed 24-bit BMP, the simplest real image container — fixed
  * 54-byte header, bottom-up rows, 4-byte-aligned strides. The encoder
  * renders a deterministic 9×8 grayscale image whose dHash equals a
  * given 64-bit pattern; the decoder is a GENERIC (small-)BMP parser:
  * it reads the header fields, walks padded pixel rows, and computes
  * integer luma statistics plus the standard dHash (Krawetz) — so the
  * decode stage of mm_features_bmp / mm_frame_dedup exercises a real
  * binary format end to end, not a charset cast. The oracle recomputes
  * every feature arithmetically from the hash pattern, pinning
  * encoder, EBML transport, block walk, AND decoder in one hash gate.
  *
  * Both stages are per-row codegen kernels (H4 pattern): interpreted
  * eval and generated code call the same statics, no UDF boxing. */
object ImageKernels {

  val Width = 9
  val Height = 8

  /** Render the 9×8 gray BMP whose row-wise dHash is exactly `bits`:
    * each row starts at gray 128 and steps ±1 per bit (bit i = y*8+x
    * set ⇒ pixel x+1 brighter than pixel x in row y), so values stay
    * in [120,136] and the adjacent-pixel comparisons recover `bits`
    * losslessly. Layout: BITMAPFILEHEADER(14) + BITMAPINFOHEADER(40),
    * bottom-up rows, stride 28 (27 pixel bytes + 1 pad). */
  def bmpEncode(bits: Long): Array[Byte] = {
    val stride = ((Width * 3 + 3) / 4) * 4
    val imgSize = stride * Height
    val buf = new Array[Byte](54 + imgSize)
    def le32(off: Int, v: Int): Unit = {
      buf(off) = (v & 0xff).toByte
      buf(off + 1) = ((v >>> 8) & 0xff).toByte
      buf(off + 2) = ((v >>> 16) & 0xff).toByte
      buf(off + 3) = ((v >>> 24) & 0xff).toByte
    }
    buf(0) = 'B'; buf(1) = 'M'
    le32(2, 54 + imgSize) // file size
    le32(10, 54)          // pixel data offset
    le32(14, 40)          // info header size
    le32(18, Width)
    le32(22, Height)      // positive: bottom-up
    buf(26) = 1           // planes
    buf(28) = 24          // bpp
    le32(34, imgSize)
    var y = 0
    while (y < Height) {
      val rowOff = 54 + (Height - 1 - y) * stride // bottom-up storage
      var v = 128
      var x = 0
      while (x < Width) {
        if (x > 0) {
          val bit = (bits >>> (y * 8 + (x - 1))) & 1L
          v += (if (bit == 1L) 1 else -1)
        }
        val o = rowOff + x * 3
        buf(o) = v.toByte; buf(o + 1) = v.toByte; buf(o + 2) = v.toByte
        x += 1
      }
      y += 1
    }
    buf
  }

  /** Generic 24-bit-BMP feature extraction: (width, height, mean_milli,
    * dhash). mean_milli = floor(1000 * mean integer luma) with luma =
    * (b+g+r)/3 per pixel (exact integer arithmetic throughout); dhash
    * bit y*(w-1)+x = luma(x+1,y) > luma(x,y), rows top-down, capped at
    * 64 bits. Returns null for anything that is not a parseable
    * bottom-up 24-bit BMP. */
  def bmpFeatures(bytes: Array[Byte]): InternalRow = {
    if (bytes == null || bytes.length < 54 || bytes(0) != 'B' || bytes(1) != 'M')
      return null
    def le32(off: Int): Int =
      (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8) |
        ((bytes(off + 2) & 0xff) << 16) | ((bytes(off + 3) & 0xff) << 24)
    val dataOff = le32(10)
    val w = le32(18)
    val h = le32(22)
    val bpp = (bytes(28) & 0xff) | ((bytes(29) & 0xff) << 8)
    if (bpp != 24 || w <= 0 || h <= 0) return null
    val stride = ((w * 3 + 3) / 4) * 4
    if (dataOff.toLong + stride.toLong * h > bytes.length) return null
    val luma = new Array[Int](w * h)
    var sum = 0L
    var y = 0
    while (y < h) {
      val rowOff = dataOff + (h - 1 - y) * stride
      var x = 0
      while (x < w) {
        val o = rowOff + x * 3
        val l = ((bytes(o) & 0xff) + (bytes(o + 1) & 0xff) + (bytes(o + 2) & 0xff)) / 3
        luma(y * w + x) = l
        sum += l
        x += 1
      }
      y += 1
    }
    val meanMilli = sum * 1000L / (w.toLong * h.toLong)
    var dhash = 0L
    var i = 0
    var yy = 0
    while (yy < h && i < 64) {
      var xx = 0
      while (xx < w - 1 && i < 64) {
        if (luma(yy * w + xx + 1) > luma(yy * w + xx)) dhash |= (1L << i)
        i += 1
        xx += 1
      }
      yy += 1
    }
    InternalRow(w.toLong, h.toLong, meanMilli, dhash)
  }

  /** G13 — RESIZE: 2× box downsample of a generic 24-bit BMP, exact
    * integer arithmetic (out channel = floor of the in-bounds 2×2
    * source sum over its count, so odd edges average their 1–2 real
    * sources — no phantom black border). Returns a well-formed
    * ⌈w/2⌉×⌈h/2⌉ BMP that [[bmpFeatures]] parses like any other, or
    * null on anything that is not a parseable bottom-up 24-bit BMP —
    * the decode-null contract of the whole kernel family. */
  def bmpResize2x(bytes: Array[Byte]): Array[Byte] = {
    if (bytes == null || bytes.length < 54 || bytes(0) != 'B' || bytes(1) != 'M')
      return null
    def le32(off: Int): Int =
      (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8) |
        ((bytes(off + 2) & 0xff) << 16) | ((bytes(off + 3) & 0xff) << 24)
    val dataOff = le32(10)
    val w = le32(18)
    val h = le32(22)
    val bpp = (bytes(28) & 0xff) | ((bytes(29) & 0xff) << 8)
    if (bpp != 24 || w <= 0 || h <= 0) return null
    val stride = ((w * 3 + 3) / 4) * 4
    if (dataOff.toLong + stride.toLong * h > bytes.length) return null
    val ow = (w + 1) / 2
    val oh = (h + 1) / 2
    val ostride = ((ow * 3 + 3) / 4) * 4
    val oimg = ostride * oh
    val out = new Array[Byte](54 + oimg)
    def ple32(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte
      out(off + 1) = ((v >>> 8) & 0xff).toByte
      out(off + 2) = ((v >>> 16) & 0xff).toByte
      out(off + 3) = ((v >>> 24) & 0xff).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    ple32(2, 54 + oimg); ple32(10, 54); ple32(14, 40)
    ple32(18, ow); ple32(22, oh)
    out(26) = 1; out(28) = 24
    ple32(34, oimg)
    var oy = 0
    while (oy < oh) {
      val orow = 54 + (oh - 1 - oy) * ostride
      var ox = 0
      while (ox < ow) {
        var c = 0
        var sb = 0; var sg = 0; var sr = 0
        var dy = 0
        while (dy < 2) {
          val sy = oy * 2 + dy
          if (sy < h) {
            val srow = dataOff + (h - 1 - sy) * stride
            var dx = 0
            while (dx < 2) {
              val sx = ox * 2 + dx
              if (sx < w) {
                val o = srow + sx * 3
                sb += bytes(o) & 0xff
                sg += bytes(o + 1) & 0xff
                sr += bytes(o + 2) & 0xff
                c += 1
              }
              dx += 1
            }
          }
          dy += 1
        }
        val oo = orow + ox * 3
        out(oo) = (sb / c).toByte
        out(oo + 1) = (sg / c).toByte
        out(oo + 2) = (sr / c).toByte
        ox += 1
      }
      oy += 1
    }
    out
  }

  /** G15 — horizontal FLIP (mirror) augmentation: pixel (x, y) moves
    * to (w−1−x, y), channels untouched — the standard label-preserving
    * vision augmentation, as a pure byte-level remap (no arithmetic, so
    * flip ∘ flip ≡ identity exactly). Returns a well-formed BMP of the
    * same dimensions that the rest of the kernel family parses like any
    * other; null on anything that is not a parseable bottom-up 24-bit
    * BMP — the family's decode-null contract. */
  def bmpFlipH(bytes: Array[Byte]): Array[Byte] = {
    if (bytes == null || bytes.length < 54 || bytes(0) != 'B' || bytes(1) != 'M')
      return null
    def le32(off: Int): Int =
      (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8) |
        ((bytes(off + 2) & 0xff) << 16) | ((bytes(off + 3) & 0xff) << 24)
    val dataOff = le32(10)
    val w = le32(18)
    val h = le32(22)
    val bpp = (bytes(28) & 0xff) | ((bytes(29) & 0xff) << 8)
    if (bpp != 24 || w <= 0 || h <= 0) return null
    val stride = ((w * 3 + 3) / 4) * 4
    if (dataOff.toLong + stride.toLong * h > bytes.length) return null
    val img = stride * h
    val out = new Array[Byte](54 + img)
    def ple32(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte
      out(off + 1) = ((v >>> 8) & 0xff).toByte
      out(off + 2) = ((v >>> 16) & 0xff).toByte
      out(off + 3) = ((v >>> 24) & 0xff).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    ple32(2, 54 + img); ple32(10, 54); ple32(14, 40)
    ple32(18, w); ple32(22, h)
    out(26) = 1; out(28) = 24
    ple32(34, img)
    var y = 0
    while (y < h) {
      val srow = dataOff + y * stride
      val orow = 54 + y * stride
      var x = 0
      while (x < w) {
        val s = srow + x * 3
        val o = orow + (w - 1 - x) * 3
        out(o) = bytes(s)
        out(o + 1) = bytes(s + 1)
        out(o + 2) = bytes(s + 2)
        x += 1
      }
      y += 1
    }
    out
  }

  /** G14 — PATCH/TILE extraction (ViT prep): the image cut into a
    * fixed p×p grid (⌈w/p⌉ × ⌈h/p⌉ tiles — edge tiles keep their
    * in-bounds pixels only, no phantom border, the [[bmpResize2x]]
    * edge rule), each tile reduced to exact integer luma stats:
    * (py, px, n_px, sum_luma, mean_milli) with mean_milli =
    * sum_luma·1000 // n_px. Tiles emit row-major (py, px) so the
    * array order is deterministic. Null for anything that is not a
    * parseable bottom-up 24-bit BMP — the family's contract. */
  def bmpPatches(bytes: Array[Byte], p: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    if (p <= 0 || bytes == null || bytes.length < 54 ||
        bytes(0) != 'B' || bytes(1) != 'M')
      return null
    def le32(off: Int): Int =
      (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8) |
        ((bytes(off + 2) & 0xff) << 16) | ((bytes(off + 3) & 0xff) << 24)
    val dataOff = le32(10)
    val w = le32(18)
    val h = le32(22)
    val bpp = (bytes(28) & 0xff) | ((bytes(29) & 0xff) << 8)
    if (bpp != 24 || w <= 0 || h <= 0) return null
    val stride = ((w * 3 + 3) / 4) * 4
    if (dataOff.toLong + stride.toLong * h > bytes.length) return null
    val tilesX = (w + p - 1) / p
    val tilesY = (h + p - 1) / p
    val out = new Array[Any](tilesY * tilesX)
    var py = 0
    while (py < tilesY) {
      var px = 0
      while (px < tilesX) {
        var sum = 0L
        var n = 0L
        var y = py * p
        val yEnd = math.min(h, py * p + p)
        while (y < yEnd) {
          val rowOff = dataOff + (h - 1 - y) * stride
          var x = px * p
          val xEnd = math.min(w, px * p + p)
          while (x < xEnd) {
            val o = rowOff + x * 3
            sum += ((bytes(o) & 0xff) + (bytes(o + 1) & 0xff) +
              (bytes(o + 2) & 0xff)) / 3
            n += 1L
            x += 1
          }
          y += 1
        }
        out(py * tilesX + px) =
          InternalRow(py.toLong, px.toLong, n, sum, sum * 1000L / n)
        px += 1
      }
      py += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

object BmpFeatures {
  val featureType: StructType = StructType(Seq(
    StructField("width", LongType), StructField("height", LongType),
    StructField("mean_milli", LongType), StructField("dhash", LongType)))
}

object BmpPatches {
  val patchArrayType: ArrayType = ArrayType(StructType(Seq(
    StructField("py", LongType), StructField("px", LongType),
    StructField("n_px", LongType), StructField("sum_luma", LongType),
    StructField("mean_milli", LongType))), containsNull = false)
}
