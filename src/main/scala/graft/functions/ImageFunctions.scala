package graft.functions

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}
import org.apache.spark.sql.functions.udf

/** Image payload operators over `BinaryType` columns — the north-rule row
  * invariant surface (decoded-pixel PSNR, perceptual hash, dimensions).
  * All pure JVM (javax.imageio), callable from executors; exposed as Scala
  * UDFs (images are opaque binaries — no codegen'd builtin can decode them).
  */
object ImageFunctions {

  // ImageIO defaults to a file-backed, lock-contended stream cache — with
  // 32 decode threads that serializes on temp-file creation and destroys
  // scaling. In-memory streams only (class-load-time, once per executor JVM).
  ImageIO.setUseCache(false)

  // per-thread reader cache: ImageIO.read re-scans the reader registry and
  // instantiates a fresh reader per call — measurable per-image overhead on
  // the decode-bounded crawl invariant scan. The cached path is exactly
  // what ImageIO.read does internally (setInput(stream, seekForwardOnly =
  // true, ignoreMetadata = true) then read(0)), so decoded images are
  // identical; readers are not thread-safe, hence ThreadLocal. Unknown
  // magics fall back to ImageIO.read's own registry dispatch.
  private val readerCache =
    ThreadLocal.withInitial[java.util.HashMap[String, javax.imageio.ImageReader]](
      () => new java.util.HashMap())

  private def formatByMagic(b: Array[Byte]): String =
    if (b.length < 4) null
    else if ((b(0) & 0xFF) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') "png"
    else if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') "gif"
    else if (b(0) == 'B' && b(1) == 'M') "bmp"
    else if ((b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8) "jpeg"
    else null

  def decode(bytes: Array[Byte]): Option[BufferedImage] = {
    if (bytes == null) return None
    val fmt = formatByMagic(bytes)
    if (fmt == null) return Option(ImageIO.read(new ByteArrayInputStream(bytes)))
    val cache = readerCache.get()
    var reader = cache.get(fmt)
    if (reader == null) {
      val it = ImageIO.getImageReadersByFormatName(fmt)
      if (!it.hasNext) return Option(ImageIO.read(new ByteArrayInputStream(bytes)))
      reader = it.next()
      cache.put(fmt, reader)
    }
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new ByteArrayInputStream(bytes))
    try {
      reader.setInput(iis, true, true)
      Option(reader.read(0))
    } finally iis.close()
  }

  /** Encode RGB pixel array (row-major, 0xRRGGBB ints) with the given format.
    * For jpg, quality 0.92 keeps PSNR of smooth fixtures well above 40 dB.
    */
  def encode(pixels: Array[Int], w: Int, h: Int, fmt: String): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, w, h, pixels, 0, w)
    val bos = new ByteArrayOutputStream()
    fmt match {
      case "jpg" =>
        val writer = ImageIO.getImageWritersByFormatName("jpg").next()
        val params = writer.getDefaultWriteParam
        params.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
        params.setCompressionQuality(0.92f)
        val ios = ImageIO.createImageOutputStream(bos)
        writer.setOutput(ios)
        writer.write(null, new IIOImage(img, null, null), params)
        writer.dispose(); ios.close()
      case other =>
        ImageIO.write(img, other, bos)
    }
    bos.toByteArray
  }

  def pixelsOf(img: BufferedImage): Array[Int] = {
    val w = img.getWidth; val h = img.getHeight
    val out = new Array[Int](w * h)
    // direct-raster fast paths for the two standard sRGB layouts the
    // decoders actually produce (PNG/BMP → TYPE_3BYTE_BGR, our own
    // encode() → TYPE_INT_RGB): BufferedImage.getRGB routes every pixel
    // through ColorModel virtual calls, which dominated the per-image
    // cost of the results-append invariant decode. For these types the
    // bytes ARE the sRGB values, so the packed ints are bit-identical to
    // the getRGB path (pinned in OptimizedOpsSpec across every store
    // format); anything else (indexed GIF palettes, gray — where getRGB
    // applies real colorspace conversion) keeps the exact slow path.
    img.getType match {
      case BufferedImage.TYPE_3BYTE_BGR
          if img.getRaster.getDataBuffer.isInstanceOf[java.awt.image.DataBufferByte] &&
            img.getRaster.getDataBuffer.asInstanceOf[java.awt.image.DataBufferByte]
              .getData.length == w * h * 3 =>
        val d = img.getRaster.getDataBuffer
          .asInstanceOf[java.awt.image.DataBufferByte].getData
        var i = 0
        while (i < out.length) {
          val b = i * 3
          out(i) = ((d(b + 2) & 0xFF) << 16) | ((d(b + 1) & 0xFF) << 8) | (d(b) & 0xFF)
          i += 1
        }
        out
      case BufferedImage.TYPE_INT_RGB
          if img.getRaster.getDataBuffer.isInstanceOf[java.awt.image.DataBufferInt] &&
            img.getRaster.getDataBuffer.asInstanceOf[java.awt.image.DataBufferInt]
              .getData.length == w * h =>
        val d = img.getRaster.getDataBuffer
          .asInstanceOf[java.awt.image.DataBufferInt].getData
        var i = 0
        while (i < out.length) { out(i) = d(i) & 0xFFFFFF; i += 1 }
        out
      case _ =>
        img.getRGB(0, 0, w, h, out, 0, w)
        var i = 0
        while (i < out.length) { out(i) &= 0xFFFFFF; i += 1 }
        out
    }
  }

  /** PSNR in dB between two RGB pixel arrays (per-channel MSE). Identical
    * images → capped at 99.0 (avoids +Inf in columnar outputs).
    */
  def psnr(a: Array[Int], b: Array[Int]): Double = {
    require(a.length == b.length, "pixel count mismatch")
    var se = 0.0
    var i = 0
    while (i < a.length) {
      val (pa, pb) = (a(i), b(i))
      val dr = ((pa >> 16) & 0xFF) - ((pb >> 16) & 0xFF)
      val dg = ((pa >> 8) & 0xFF) - ((pb >> 8) & 0xFF)
      val db = (pa & 0xFF) - (pb & 0xFF)
      se += dr * dr + dg * dg + db * db
      i += 1
    }
    val mse = se / (a.length * 3.0)
    if (mse == 0.0) 99.0 else math.min(99.0, 10.0 * math.log10(255.0 * 255.0 / mse))
  }

  /** 8×8 block mean luminances (the shared downsample behind aHash and
    * the continuous image embedding).
    */
  def blockGray64(pixels: Array[Int], w: Int, h: Int): Array[Double] = {
    val gray = new Array[Double](64)
    var by = 0
    while (by < 8) {
      var bx = 0
      while (bx < 8) {
        val x0 = bx * w / 8; val x1 = math.max(x0 + 1, (bx + 1) * w / 8)
        val y0 = by * h / 8; val y1 = math.max(y0 + 1, (by + 1) * h / 8)
        var sum = 0.0; var n = 0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val p = pixels(math.min(y, h - 1) * w + math.min(x, w - 1))
            sum += 0.299 * ((p >> 16) & 0xFF) + 0.587 * ((p >> 8) & 0xFF) + 0.114 * (p & 0xFF)
            n += 1; x += 1
          }
          y += 1
        }
        gray(by * 8 + bx) = sum / n
        bx += 1
      }
      by += 1
    }
    gray
  }

  /** aHash-64: average-hash over an 8×8 grayscale downsample (FIXTURES.md F1).
    * Block-mean downsampling (not interpolation) so the hash is exactly
    * reproducible from pixel data alone.
    */
  def aHash64(pixels: Array[Int], w: Int, h: Int): Long = {
    val gray = blockGray64(pixels, w, h)
    val mean = gray.sum / 64.0
    var hash = 0L
    var i = 0
    while (i < 64) { if (gray(i) >= mean) hash |= (1L << i); i += 1 }
    hash
  }

  def phashOfBytes(bytes: Array[Byte]): Option[Long] =
    decode(bytes).map(img => aHash64(pixelsOf(img), img.getWidth, img.getHeight))

  /** Hamming distance between two 64-bit perceptual hashes. */
  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  // ---- UDF surface ----
  val phash64 = udf { bytes: Array[Byte] => phashOfBytes(bytes) }
}
