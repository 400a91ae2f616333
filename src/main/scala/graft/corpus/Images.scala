package graft.corpus

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import javax.imageio.stream.MemoryCacheImageOutputStream
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}

/** Deterministic synthetic images + codecs + fidelity metrics.
  *
  * Pure JDK (javax.imageio handles PNG and JPEG) — no external native libs.
  * Images are smooth 2-D sinusoid mixtures (low-frequency content) so JPEG
  * at high quality stays above the PSNR ≥ 40 dB gate from the baseline's
  * per-row image invariant. All generation is seeded by the image id —
  * byte-identical across runs and machines.
  */
object Images {

  // ImageIO defaults to DISK-backed stream caches: every encode/decode
  // round-trips a temp file, which serializes concurrent codec work on the
  // filesystem (measured: per-core fetch throughput degraded 2.4x from 8 to
  // 32 executor threads). In-memory caches restore linear scaling; set once
  // per JVM (executors are threads of one JVM in local mode; on a cluster
  // each executor JVM initializes this object on first use).
  javax.imageio.ImageIO.setUseCache(false)

  /** Low-frequency RGB sinusoid mixture seeded by `id`. `jitter` nudges the
    * phase slightly — used to plant near-duplicate pairs whose perceptual
    * hashes collide within a small hamming distance.
    */
  def synth(id: Long, w: Int, h: Int, jitter: Double = 0.0): BufferedImage = {
    val rnd = new java.util.Random(id * 0x9E3779B97F4A7C15L + 1)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    // Luminance-dominant: one low-frequency luminance sinusoid + a small
    // per-channel tint. Chroma subsampling is JPEG's dominant loss on
    // synthetic gradients; keeping chroma energy low holds worst-case
    // round-trip PSNR ≈ 46 dB at q=0.95 (measured), vs ~37 dB for
    // independent saturated channels.
    // Luminance = a 6-component sinusoid mixture (frequencies up to ~4
    // cycles). One lone sinusoid gave images so perceptually alike that DCT
    // pHashes of unrelated images collided (measured hamming 0); spreading
    // energy across several frequencies yields diverse, stable spectra while
    // staying low-frequency enough for the 40 dB JPEG gate.
    val K = 6
    val comps = Array.fill(K)(
      (rnd.nextDouble() * 3.6 + 0.4, rnd.nextDouble() * 3.6 + 0.4,
        rnd.nextDouble() * math.Pi * 2 + jitter,
        rnd.nextDouble() * 0.10 + 0.04))
    val tint = Array.fill(3)(
      (rnd.nextDouble() * 0.8 + 0.2, rnd.nextDouble() * 0.8 + 0.2,
        rnd.nextDouble() * math.Pi * 2 + jitter))
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val fx = x.toDouble / w
        val fy = y.toDouble / h
        var lum = 0.5
        var k = 0
        while (k < K) {
          val (a, b, c, amp) = comps(k)
          lum += amp * math.sin(2 * math.Pi * (a * fx + b * fy) + c)
          k += 1
        }
        def ch(i: Int): Int = {
          val (a, b, c) = tint(i)
          val t = 0.06 * math.sin(2 * math.Pi * (a * fx + b * fy) + c)
          val v = math.max(0.0, math.min(1.0, lum + t))
          (v * 255.0).toInt & 0xFF
        }
        img.setRGB(x, y, (ch(0) << 16) | (ch(1) << 8) | ch(2))
        x += 1
      }
      y += 1
    }
    img
  }

  /** Integer-math synthetic RGB image — channel c at flat pixel index
    * p = y·w + x is `(id·40503 + p·2654435761 + c·7919) mod 256`. Unlike
    * [[synth]] (Random + sin, inexpressible in SQL), every pixel is a pure
    * integer function of (id, p, c) that an independent engine can
    * regenerate arithmetically — the image twin of [[Audio]]'s PCM
    * recurrence, which is what lets the PNG (lossless) decode path be
    * hash-gated end-to-end instead of rows-only.
    */
  def synthInt(id: Long, w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var p = 0
    val n = w * h
    while (p < n) {
      val base = id * 40503L + p.toLong * 2654435761L
      val r = (java.lang.Math.floorMod(base, 256L)).toInt
      val g = (java.lang.Math.floorMod(base + 7919L, 256L)).toInt
      val b = (java.lang.Math.floorMod(base + 15838L, 256L)).toInt
      img.setRGB(p % w, p / w, (r << 16) | (g << 8) | b)
      p += 1
    }
    img
  }

  def encodePng(img: BufferedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  def encodeJpeg(img: BufferedImage, quality: Float = 0.95f): Array[Byte] = {
    val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
    val params = writer.getDefaultWriteParam
    params.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    params.setCompressionQuality(quality)
    val bos = new ByteArrayOutputStream()
    val ios = new MemoryCacheImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(null, new IIOImage(img, null, null), params)
    } finally { ios.close(); writer.dispose() }
    bos.toByteArray
  }

  def decode(bytes: Array[Byte]): BufferedImage =
    ImageIO.read(new java.io.ByteArrayInputStream(bytes))

  /** Deterministic area-average resize (the same grid fold [[phash]] uses
    * for its 32×32 downsample) — unlike `Graphics2D` interpolation hints,
    * the output is specified arithmetic, identical on every JVM/platform.
    */
  def resize(img: BufferedImage, tw: Int, th: Int): BufferedImage = {
    val accR = new Array[Double](tw * th)
    val accG = new Array[Double](tw * th)
    val accB = new Array[Double](tw * th)
    val cnt = new Array[Long](tw * th)
    val w = img.getWidth; val h = img.getHeight
    var y = 0
    while (y < h) {
      val gy = y * th / h
      var x = 0
      while (x < w) {
        val gx = x * tw / w
        val p = img.getRGB(x, y)
        val i = gy * tw + gx
        accR(i) += (p >> 16) & 0xFF; accG(i) += (p >> 8) & 0xFF; accB(i) += p & 0xFF
        cnt(i) += 1
        x += 1
      }
      y += 1
    }
    val out = new BufferedImage(tw, th, BufferedImage.TYPE_INT_RGB)
    var i = 0
    while (i < tw * th) {
      val n = math.max(cnt(i), 1L)
      val rgb = (math.round(accR(i) / n).toInt << 16) |
        (math.round(accG(i) / n).toInt << 8) | math.round(accB(i) / n).toInt
      out.setRGB(i % tw, i / tw, rgb)
      i += 1
    }
    out
  }

  /** Mean BT.601 luma over all pixels (0..255 scale). */
  def meanLuma(img: BufferedImage): Double = {
    var s = 0.0
    var n = 0L
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val p = img.getRGB(x, y)
        s += 0.299 * ((p >> 16) & 0xFF) + 0.587 * ((p >> 8) & 0xFF) + 0.114 * (p & 0xFF)
        n += 1; x += 1
      }
      y += 1
    }
    s / math.max(n, 1L)
  }

  /** Peak signal-to-noise ratio over 8-bit RGB; Double.PositiveInfinity for
    * identical pixels. The baseline gate is ≥ 40 dB for lossy formats.
    */
  def psnr(a: BufferedImage, b: BufferedImage): Double = {
    require(a.getWidth == b.getWidth && a.getHeight == b.getHeight, "dim mismatch")
    var se = 0.0
    var n = 0L
    var y = 0
    while (y < a.getHeight) {
      var x = 0
      while (x < a.getWidth) {
        val pa = a.getRGB(x, y); val pb = b.getRGB(x, y)
        var s = 16
        while (s >= 0) {
          val d = ((pa >> s) & 0xFF) - ((pb >> s) & 0xFF)
          se += d.toDouble * d; n += 1
          s -= 8
        }
        x += 1
      }
      y += 1
    }
    if (se == 0.0) Double.PositiveInfinity
    else 10.0 * math.log10(255.0 * 255.0 / (se / n))
  }

  /** 64-bit DCT perceptual hash (classic pHash shape): area-average the
    * grayscale image to 32×32, take a separable 2-D DCT-II, keep the 65
    * lowest-frequency coefficients minus DC, and threshold the first 64 at
    * their median. Chosen over average-hash deliberately: aHash over smooth
    * synthetic gradients collapses to a handful of sign patterns (measured:
    * unrelated images within hamming 5-6, and LSH bands so hot that the
    * candidate join exploded quadratically); the DCT spectrum keeps ~32 bits
    * of entropy on the same corpus. Robust to JPEG re-encode (≤ a few bits).
    * Near-dup suppression buckets rows by 8-bit bands of this value and
    * verifies with `bitCount(xor) ≤ t` ([[graft.items.Items.suppressInBucket]]).
    */
  def phash(img: BufferedImage): Long = {
    val N = 32
    // grayscale area-average to N×N
    val acc = new Array[Double](N * N)
    val cnt = new Array[Long](N * N)
    val w = img.getWidth; val h = img.getHeight
    var y = 0
    while (y < h) {
      val gy = y * N / h
      var x = 0
      while (x < w) {
        val gx = x * N / w
        val p = img.getRGB(x, y)
        val gray = 0.299 * ((p >> 16) & 0xFF) + 0.587 * ((p >> 8) & 0xFF) + 0.114 * (p & 0xFF)
        val i = gy * N + gx
        acc(i) += gray; cnt(i) += 1
        x += 1
      }
      y += 1
    }
    var i = 0
    while (i < N * N) { acc(i) /= math.max(cnt(i), 1L); i += 1 }
    // separable DCT-II: rows then columns (cos tables precomputed)
    val c = dctTable
    val tmp = new Array[Double](N * N)
    var u = 0
    while (u < N) {
      var vv = 0
      while (vv < N) {
        var s0 = 0.0
        var k = 0
        while (k < N) { s0 += acc(u * N + k) * c(vv)(k); k += 1 }
        tmp(u * N + vv) = s0
        vv += 1
      }
      u += 1
    }
    val dct = new Array[Double](N * N)
    var v2 = 0
    while (v2 < N) {
      var u2 = 0
      while (u2 < N) {
        var s0 = 0.0
        var k = 0
        while (k < N) { s0 += tmp(k * N + v2) * c(u2)(k); k += 1 }
        dct(u2 * N + v2) = s0
        u2 += 1
      }
      v2 += 1
    }
    // 65 lowest-frequency coeffs in zigzag-ish row-major 9×8 block minus DC
    val coeffs = new Array[Double](64)
    var n = 0
    var uu = 0
    while (uu < 9 && n < 64) {
      var vv = 0
      while (vv < 8 && n < 64) {
        if (!(uu == 0 && vv == 0)) { coeffs(n) = dct(uu * N + vv); n += 1 }
        vv += 1
      }
      uu += 1
    }
    val sorted = coeffs.sorted
    val median = (sorted(31) + sorted(32)) / 2.0
    var bits = 0L
    i = 0
    while (i < 64) { if (coeffs(i) > median) bits |= (1L << i); i += 1 }
    bits
  }

  private lazy val dctTable: Array[Array[Double]] = {
    val N = 32
    Array.tabulate(N, N)((f, k) => math.cos(math.Pi / N * (k + 0.5) * f))
  }

  def phashOfBytes(bytes: Array[Byte]): Long = phash(decode(bytes))

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
}
