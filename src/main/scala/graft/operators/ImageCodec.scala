package graft.operators

import java.nio.charset.StandardCharsets

/** A real byte codec for the Multimodal decode path: binary-format
  * parsers for PPM (P6) and uncompressed 24-bit BMP, pure JVM, no
  * native libraries. This is the "genuine decoder" behind
  * `Multimodal.decodeImages` / `resizeImages` — it parses actual file
  * headers, validates magic bytes / bit depth / compression flags,
  * honors BMP row padding and bottom-up row order, and converts BGR
  * to RGB — so the mapPartitions batching shape is exercised by real
  * decode work, not a checksum stand-in. Formats richer than these
  * (JPEG/PNG/video) need exactly the same call shape with an FFI
  * codec handle opened once per partition; `decodeStub` remains for
  * mime types with no parser here.
  *
  * All functions are driver-free and allocation-bounded per image —
  * safe to run inside executor tasks at any scale.
  */
object ImageCodec {

  /** Decoded raster: packed row-major RGB, 3 bytes per pixel. */
  final case class Image(width: Int, height: Int, rgb: Array[Byte]) {
    require(rgb.length == width * height * 3,
      s"rgb length ${rgb.length} != $width x $height x 3")
  }

  val PpmMime = "image/x-portable-pixmap"
  val BmpMime = "image/bmp"

  def decode(mime: String, bytes: Array[Byte]): Image = mime match {
    case PpmMime => decodePpm(bytes)
    case BmpMime => decodeBmp24(bytes)
    case m => throw new IllegalArgumentException(
      s"no codec for mime '$m' (supported: $PpmMime, $BmpMime)")
  }

  /** Binary PPM (P6): ASCII header `P6 <w> <h> <maxval>` with
    * whitespace/#-comment separation, one whitespace byte, then
    * 3·w·h RGB bytes. */
  def decodePpm(b: Array[Byte]): Image = decodePpmAt(b, 0)._1

  /** Uncompressed 24-bit BMP: BITMAPFILEHEADER ('BM', pixel-array
    * offset at byte 10) + BITMAPINFOHEADER (width/height/bpp/
    * compression), little-endian; rows padded to 4 bytes, stored
    * bottom-up unless height is negative; pixels are BGR. */
  def decodeBmp24(b: Array[Byte]): Image = {
    require(b.length >= 54, s"bmp truncated: ${b.length} bytes")
    require(b(0) == 'B' && b(1) == 'M', "not a bmp (magic != 'BM')")
    def u16(o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    def i32(o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
      ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
    val off = i32(10)
    val w = i32(18)
    val rawH = i32(22)
    val bpp = u16(28)
    val comp = i32(30)
    require(bpp == 24, s"only 24-bit bmp supported, got $bpp bpp")
    require(comp == 0, s"only uncompressed (BI_RGB) supported, got $comp")
    val topDown = rawH < 0
    val h = math.abs(rawH)
    require(w > 0 && h > 0, s"bad bmp dimensions ${w}x$rawH")
    // size arithmetic in Long BEFORE the truncation check: a huge
    // declared width would overflow `w * 3` to a negative Int stride,
    // sneak past the length require, and then blow up in array
    // allocation/indexing instead of the clean require a corrupt
    // payload must produce (dead-letter contract)
    val strideL = (w.toLong * 3 + 3) & ~3L
    require(off >= 54 && off.toLong + strideL * h <= b.length,
      s"bmp truncated: need ${off.toLong + strideL * h} bytes, have ${b.length}")
    // the require bounds w·h·3 ≤ stride·h ≤ b.length, so Int is safe
    val stride = strideL.toInt
    val rgb = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      val srcRow = off + (if (topDown) y else h - 1 - y) * stride
      var x = 0
      while (x < w) {
        val d = (y * w + x) * 3
        rgb(d) = b(srcRow + x * 3 + 2)     // R (bmp stores BGR)
        rgb(d + 1) = b(srcRow + x * 3 + 1) // G
        rgb(d + 2) = b(srcRow + x * 3)     // B
        x += 1
      }
      y += 1
    }
    Image(w, h, rgb)
  }

  /** Offset-aware P6 decode for container parsing: returns the image
    * and the index one past its last pixel byte. */
  def decodePpmAt(b: Array[Byte], offset: Int): (Image, Int) = {
    var pos = offset
    def isWs(c: Byte): Boolean =
      c == ' ' || c == '\n' || c == '\r' || c == '\t'
    def token(): String = {
      while (pos < b.length && (isWs(b(pos)) || b(pos) == '#')) {
        if (b(pos) == '#') while (pos < b.length && b(pos) != '\n') pos += 1
        else pos += 1
      }
      val start = pos
      while (pos < b.length && !isWs(b(pos))) pos += 1
      new String(b, start, pos - start, StandardCharsets.US_ASCII)
    }
    val magic = token()
    require(magic == "P6", s"not a P6 ppm at offset $offset (magic '$magic')")
    val w = token().toInt
    val h = token().toInt
    val maxv = token().toInt
    require(w > 0 && h > 0, s"bad ppm dimensions ${w}x$h at offset $offset")
    require(maxv == 255, s"only maxval 255 supported, got $maxv")
    pos += 1
    require(b.length - pos >= 3 * w * h,
      s"ppm truncated at offset $offset: need ${3 * w * h} pixel bytes, have ${b.length - pos}")
    (Image(w, h, java.util.Arrays.copyOfRange(b, pos, pos + 3 * w * h)),
      pos + 3 * w * h)
  }

  /** Multi-frame container: consecutive P6 images in one payload (the
    * shape of a raw frame dump; real video adds inter-frame coding,
    * same call structure via FFI). Returns every frame in order. */
  def decodeFrameContainer(b: Array[Byte]): Seq[Image] = {
    val out = Seq.newBuilder[Image]
    var pos = 0
    while (pos < b.length) {
      // skip inter-frame whitespace before deciding we're done
      while (pos < b.length &&
        (b(pos) == ' ' || b(pos) == '\n' || b(pos) == '\r' || b(pos) == '\t')) pos += 1
      if (pos < b.length) {
        val (img, next) = decodePpmAt(b, pos)
        out += img
        pos = next
      }
    }
    out.result()
  }

  /** P6 encoder — the re-encode half of the real resize path. */
  def encodePpm(img: Image): Array[Byte] = {
    val header = s"P6\n${img.width} ${img.height}\n255\n"
      .getBytes(StandardCharsets.US_ASCII)
    val out = new Array[Byte](header.length + img.rgb.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(img.rgb, 0, out, header.length, img.rgb.length)
    out
  }

  /** Nearest-neighbor resize over decoded pixels. */
  def resizeNearest(img: Image, w: Int, h: Int): Image = {
    require(w > 0 && h > 0, s"bad target dimensions ${w}x$h")
    val rgb = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      val sy = (y.toLong * img.height / h).toInt
      var x = 0
      while (x < w) {
        val sx = (x.toLong * img.width / w).toInt
        val s = (sy * img.width + sx) * 3
        val d = (y * w + x) * 3
        rgb(d) = img.rgb(s); rgb(d + 1) = img.rgb(s + 1); rgb(d + 2) = img.rgb(s + 2)
        x += 1
      }
      y += 1
    }
    Image(w, h, rgb)
  }

  /** Per-channel pixel means — a real feature over decoded pixels. */
  def meanRgb(img: Image): Array[Float] = {
    var r = 0L; var g = 0L; var bl = 0L
    var i = 0
    while (i < img.rgb.length) {
      r += img.rgb(i) & 0xff; g += img.rgb(i + 1) & 0xff; bl += img.rgb(i + 2) & 0xff
      i += 3
    }
    val n = (img.width.toLong * img.height).toFloat
    Array(r / n, g / n, bl / n)
  }

  /** 64-bit average hash over DECODED pixels (vs m72's raw-payload
    * fingerprint): grayscale nearest-sampled on an 8x8 grid, bit set
    * where the sample exceeds the grid mean — the perceptual near-dup
    * key that survives re-encoding, which a payload-byte hash cannot. */
  def ahash64(img: Image): Long = {
    val g = new Array[Int](64)
    var i = 0
    while (i < 64) {
      val gy = ((i / 8 * 2 + 1).toLong * img.height / 16).toInt
      val gx = ((i % 8 * 2 + 1).toLong * img.width / 16).toInt
      val s = (gy * img.width + gx) * 3
      // integer luma (BT.601-weighted, /256 denominator): deterministic
      g(i) = (77 * (img.rgb(s) & 0xff) + 150 * (img.rgb(s + 1) & 0xff) +
        29 * (img.rgb(s + 2) & 0xff)) >> 8
      i += 1
    }
    val mean = g.sum / 64
    var hash = 0L
    i = 0
    while (i < 64) {
      if (g(i) > mean) hash |= 1L << i
      i += 1
    }
    hash
  }
}
