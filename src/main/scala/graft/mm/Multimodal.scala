package graft.mm

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import java.security.MessageDigest

/** Multimodal column support (north-star extension): image/audio/video as
  * opaque binary columns + typed metadata, with decode / feature-extract /
  * resize / frame-sample stages.
  *
  * Six formats decode for REAL with pure-JVM codecs ([[Codecs]]): BMP,
  * PPM, PCM WAV (uncompressed) and PNG, GIF, baseline JPEG (compressed —
  * zlib, LZW and Huffman+IDCT respectively, no external libraries).
  * Remaining formats (e.g. MP3/AAC/video containers, which need codec
  * libraries this container lacks) route to the documented
  * `FakeCodec.decode` stub — a stand-in for a JNI/FFI decoder that
  * derives deterministic metadata+features from the payload's md5, so
  * the Spark-side plumbing stays real and oracle-checkable while that
  * codec slot is swappable.
  */
object Multimodal {

  case class MediaRow(id: Long, payload: Array[Byte])
  case class DecodedRow(id: Long, width: Int, height: Int, channels: Int,
      nBytes: Long, features: Array[Float])
  case class FrameRow(id: Long, frameIdx: Int, frameBytes: Array[Byte])

  /** ===== STUB ===== deterministic fake decoder. A real implementation
    * would hand `payload` to an image/audio codec; everything downstream
    * of the returned struct is production plumbing. */
  object FakeCodec {
    private def md5hex(b: Array[Byte]): String =
      MessageDigest.getInstance("MD5").digest(b).map("%02x".format(_)).mkString

    def decode(payload: Array[Byte]): DecodedRow = {
      val h = md5hex(payload)
      def hex(s: String): Long = java.lang.Long.parseLong(s, 16)
      val width = (hex(h.substring(0, 6)) % 1920L).toInt + 1
      val height = (hex(h.substring(6, 12)) % 1080L).toInt + 1
      val features = Array.tabulate(4) { i =>
        val fh = md5hex((h + i).getBytes("UTF-8"))
        (hex(fh.substring(0, 6)) % 1000L).toFloat / 1000f
      }
      DecodedRow(0L, width, height, 3, payload.length.toLong, features)
    }
  }

  /** Wrap a text/bytes source into the opaque binary media schema. */
  def packBinary(df: DataFrame, idCol: String, srcCol: String): DataFrame =
    df.select(col(idCol).as("id"), encode(col(srcCol), "UTF-8").as("payload"))

  /** 4dp half-away-from-zero round (same rule as core.roundLikeDuck):
    * features are exchanged as Float32, and a full-precision mean stored
    * as Float32 can land within float-eps of a 4dp rounding boundary —
    * pre-rounding makes the Float32 ↔ Float64 oracle comparison exact. */
  private def r4(x: Double): Float = {
    (graft.core.fixedPoint(x, 4) / 1e4).toFloat
  }

  /** Channel means + luma for a decoded image; `c0/c1/c2` index the blue,
    * green and red planes inside the interleaved triple (BMP is BGR,
    * PPM is RGB — features are always [meanB, meanG, meanR, luma]).
    * Sums are exact integers; the float ops mirror the SQL oracle. */
  private def imageRow(id: Long, w: Int, h: Int, px: Array[Byte],
      c0: Int, c1: Int, c2: Int, nBytes: Long): DecodedRow = {
    val n = w * h
    var sB = 0L; var sG = 0L; var sR = 0L
    var i = 0
    while (i < n) {
      val base = 3 * i
      sB += px(base + c0) & 0xff
      sG += px(base + c1) & 0xff
      sR += px(base + c2) & 0xff
      i += 1
    }
    val mB = sB.toDouble / n / 255.0
    val mG = sG.toDouble / n / 255.0
    val mR = sR.toDouble / n / 255.0
    val luma = 0.299 * mR + 0.587 * mG + 0.114 * mB
    DecodedRow(id, w, h, 3, nBytes, Array(r4(mB), r4(mG), r4(mR), r4(luma)))
  }

  /** PCM feature vector: [mean, rms, maxAbs, zeroCrossRate] over the
    * int16 range. width carries nSamples, height 1. */
  private def audioRow(id: Long, channels: Int, samples: Array[Short],
      nBytes: Long): DecodedRow = {
    val n = samples.length
    var sum = 0L; var sumSq = 0L; var maxAbs = 0L; var zc = 0L
    var i = 0
    while (i < n) {
      val s = samples(i).toLong
      sum += s; sumSq += s * s
      if (math.abs(s) > maxAbs) maxAbs = math.abs(s)
      if (i > 0 && samples(i - 1).toLong * s < 0) zc += 1
      i += 1
    }
    val mean = if (n > 0) sum.toDouble / n / 32768.0 else 0.0
    val rms = if (n > 0) math.sqrt(sumSq.toDouble / n) / 32768.0 else 0.0
    val zcr = if (n > 1) zc.toDouble / (n - 1) else 0.0
    DecodedRow(id, n, 1, channels, nBytes,
      Array(r4(mean), r4(rms), r4(maxAbs.toDouble / 32768.0), r4(zcr)))
  }

  /** Sniff + decode one payload: real pure-JVM codecs for BMP, PPM,
    * WAV, PNG, GIF and baseline JPEG ([[Codecs]]); anything else
    * (including malformed headers) falls back to the [[FakeCodec]]
    * stub, so the pipeline never fails on foreign bytes. */
  def decodeOne(id: Long, p: Array[Byte]): DecodedRow = {
    val n = p.length.toLong
    val real: Option[DecodedRow] =
      if (n >= 2 && p(0) == 'B' && p(1) == 'M')
        Codecs.Bmp.decode(p).map { case (w, h, bgr) => imageRow(id, w, h, bgr, 0, 1, 2, n) }
      else if (n >= 2 && p(0) == 'P' && p(1) == '6')
        Codecs.Ppm.decode(p).map { case (w, h, rgb) => imageRow(id, w, h, rgb, 2, 1, 0, n) }
      else if (n >= 12 && p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F'
          && p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E')
        Codecs.Wav.decode(p).map { case (_, ch, samples) => audioRow(id, ch, samples, n) }
      else if (Codecs.Png.isPng(p))
        Codecs.Png.decode(p).map { case (w, h, rgb) => imageRow(id, w, h, rgb, 2, 1, 0, n) }
      else if (Codecs.Gif.isGif(p))
        Codecs.Gif.decode(p).map { case (w, h, rgb) => imageRow(id, w, h, rgb, 2, 1, 0, n) }
      else if (Codecs.Jpeg.isJpeg(p))
        Codecs.Jpeg.decode(p).map { case (w, h, rgb) => imageRow(id, w, h, rgb, 2, 1, 0, n) }
      else None
    real.getOrElse(FakeCodec.decode(p).copy(id = id))
  }

  /** A decoded raster held with its pixels (logical top-down row-major
    * BGR), for stages that transform pixel data rather than just derive
    * features. */
  case class ImageRow(id: Long, width: Int, height: Int, bgr: Array[Byte])

  /** Image decode that KEEPS the pixel array (BMP and PPM payloads; PPM's
    * RGB is normalized to BGR so downstream stages see one layout).
    * Payloads that are not decodable rasters are dropped — this is the
    * typed image branch of a pipeline, not the generic feature stage. */
  def decodeImage(media: DataFrame): Dataset[ImageRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("id"), col("payload")).as[MediaRow]
      .flatMap { m =>
        val p = m.payload
        def rgbToBgr(t: (Int, Int, Array[Byte])): (Int, Int, Array[Byte]) = {
          val (w, h, rgb) = t
          val bgr = new Array[Byte](rgb.length)
          var i = 0
          while (i < rgb.length / 3) {
            bgr(3 * i) = rgb(3 * i + 2)
            bgr(3 * i + 1) = rgb(3 * i + 1)
            bgr(3 * i + 2) = rgb(3 * i)
            i += 1
          }
          (w, h, bgr)
        }
        val raster: Option[(Int, Int, Array[Byte])] =
          if (p.length >= 2 && p(0) == 'B' && p(1) == 'M') Codecs.Bmp.decode(p)
          else if (p.length >= 2 && p(0) == 'P' && p(1) == '6')
            Codecs.Ppm.decode(p).map(rgbToBgr)
          else if (Codecs.Png.isPng(p))
            Codecs.Png.decode(p).map(rgbToBgr)
          else if (Codecs.Gif.isGif(p))
            Codecs.Gif.decode(p).map(rgbToBgr)
          else if (Codecs.Jpeg.isJpeg(p))
            Codecs.Jpeg.decode(p).map(rgbToBgr)
          else None
        raster.map { case (w, h, bgr) => ImageRow(m.id, w, h, bgr) }
      }
  }

  /** REAL nearest-neighbor downscale (no longer the metadata stub): the
    * longer side is clamped to `maxDim`, destination pixel (x, y) copies
    * source pixel (x·w/dstW, y·h/dstH) — all-integer arithmetic, so the
    * resample is exactly SQL-replayable. Images already within `maxDim`
    * pass through untouched. */
  def resizeImage(imgs: Dataset[ImageRow], maxDim: Int): Dataset[ImageRow] = {
    val spark = imgs.sparkSession
    import spark.implicits._
    imgs.map { im =>
      val longSide = math.max(im.width, im.height)
      if (longSide <= maxDim) im
      else {
        val dstW = math.max(1, im.width * maxDim / longSide)
        val dstH = math.max(1, im.height * maxDim / longSide)
        val out = new Array[Byte](dstW * dstH * 3)
        var y = 0
        while (y < dstH) {
          val sy = y * im.height / dstH
          var x = 0
          while (x < dstW) {
            val sx = x * im.width / dstW
            val src = (sy * im.width + sx) * 3
            val dst = (y * dstW + x) * 3
            out(dst) = im.bgr(src); out(dst + 1) = im.bgr(src + 1); out(dst + 2) = im.bgr(src + 2)
            x += 1
          }
          y += 1
        }
        ImageRow(im.id, dstW, dstH, out)
      }
    }
  }

  /** Feature stage over in-memory rasters — same exact-integer channel
    * means + luma as the decode stage's feature path. */
  def imageFeatures(imgs: Dataset[ImageRow]): Dataset[DecodedRow] = {
    val spark = imgs.sparkSession
    import spark.implicits._
    imgs.map(im => imageRow(im.id, im.width, im.height, im.bgr, 0, 1, 2,
      im.bgr.length.toLong))
  }

  /** 8×8 average-hash (aHash) fingerprint of a decoded raster — the
    * image face of the dedup family (near-identical crops/re-encodes of
    * the same picture collapse to nearby hashes; the standard cheap
    * perceptual fingerprint ahead of an embedding pass). Every step is
    * integer-exact, so the hash replays bit-for-bit in SQL: nearest-
    * neighbor resample onto the 8×8 grid (src (x·w/8, y·h/8) — the
    * [[resizeImage]] index math), per-cell gray = B+G+R (no division),
    * bit set where 64·gray > Σgray (strict integer compare — no mean
    * rounding anywhere). The 64 bits are stored as two 32-bit words
    * (`ahash_lo` = cells 0–31) so neither engine touches the sign bit.
    * Per-row map, zero shuffle. */
  def imageAHash(imgs: Dataset[ImageRow]): DataFrame = {
    val spark = imgs.sparkSession
    import spark.implicits._
    imgs.map { im =>
      val g = new Array[Long](64)
      var tot = 0L
      var y = 0
      while (y < 8) {
        val sy = y * im.height / 8
        var x = 0
        while (x < 8) {
          val sx = x * im.width / 8
          val b = (sy * im.width + sx) * 3
          val s = (im.bgr(b) & 0xff) + (im.bgr(b + 1) & 0xff) + (im.bgr(b + 2) & 0xff)
          g(y * 8 + x) = s
          tot += s
          x += 1
        }
        y += 1
      }
      var lo = 0L; var hi = 0L
      var i = 0
      while (i < 64) {
        if (64L * g(i) > tot) {
          if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
        }
        i += 1
      }
      (im.id, lo, hi)
    }.toDF("id", "ahash_lo", "ahash_hi")
  }

  /** Near-duplicate image pairs within `maxDist` Hamming bits of the
    * 64-bit aHash. Candidates come from 4×16-bit band buckets — the
    * SimHash/LSH banding shape, and pigeonhole-EXACT here: ≤3 differing
    * bits cannot touch all 4 bands, so no qualifying pair is missed.
    * Pair work is Σ bucket², never corpus²; the exact popcount filter
    * (codegen'd `bit_count`) runs only on candidates. */
  def imageNearDup(imgs: Dataset[ImageRow], maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      s"maxDist $maxDist: the 4-band pigeonhole guarantee only covers <= 3")
    val h = imageAHash(imgs)
    val bands = h.select(col("id"), col("ahash_lo"), col("ahash_hi"),
      posexplode(array(
        col("ahash_lo").bitwiseAND(0xffffL),
        shiftright(col("ahash_lo"), 16).bitwiseAND(0xffffL),
        col("ahash_hi").bitwiseAND(0xffffL),
        shiftright(col("ahash_hi"), 16).bitwiseAND(0xffffL)))
        .as(Seq("band", "bucket")))
    val l = bands.select(col("band"), col("bucket"), col("id").as("a"),
      col("ahash_lo").as("alo"), col("ahash_hi").as("ahi"))
    val r = bands.select(col("band"), col("bucket"), col("id").as("b"),
      col("ahash_lo").as("blo"), col("ahash_hi").as("bhi"))
    l.join(r, Seq("band", "bucket")).where(col("a") < col("b"))
      .select(col("a"), col("b"),
        (bit_count(col("alo").bitwiseXOR(col("blo"))) +
          bit_count(col("ahi").bitwiseXOR(col("bhi")))).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxDist)
  }

  /** Spectral band energies of a PCM payload — the audio analysis
    * counterpart of the image feature stage (silence/tone/noise
    * screening, coarse content fingerprinting before a learned model).
    * The first `nFft` samples (zero-padded, /32768 normalized) go
    * through a naive in-row DFT; the positive half-spectrum's power
    * folds into `nBands` equal bands. O(nFft²) multiplies per row with
    * nFft a small constant — embarrassingly parallel, zero shuffle.
    * Accumulation order is fixed (t ascending inside each k, k ascending
    * inside each band) so the SQL list replay matches term-for-term;
    * cos/sin ride the libm-parity assumption the q24 DFT oracle
    * established. Non-WAV payloads are dropped (typed audio branch). */
  def audioSpectral(media: DataFrame, nFft: Int = 64, nBands: Int = 4): DataFrame = {
    require(nFft > 0 && (nFft / 2) % nBands == 0,
      s"nBands $nBands must divide nFft/2 = ${nFft / 2}")
    val spark = media.sparkSession
    import spark.implicits._
    val per = nFft / 2 / nBands
    media.select(col("id"), col("payload")).as[MediaRow]
      .flatMap { m =>
        Codecs.Wav.decode(m.payload).map { case (rate, _, samples) =>
          val v = new Array[Double](nFft)
          var i = 0
          while (i < nFft) {
            v(i) = if (i < samples.length) samples(i) / 32768.0 else 0.0
            i += 1
          }
          (m.id, rate, samples.length, dftBands(v, nFft, per).toSeq)
        }
      }.toDF("id", "sample_rate", "n_samples", "band_energy")
  }

  /** One naive-DFT band-energy frame — shared by [[audioSpectral]] and
    * [[audioSpectrogram]]; accumulation order fixed (t asc inside k asc)
    * for the SQL list replay. */
  private def dftBands(v: Array[Double], nFft: Int, per: Int): Array[Double] = {
    val bands = new Array[Double](nFft / 2 / per)
    var k = 0
    while (k < nFft / 2) {
      var re = 0.0; var im = 0.0
      var t = 0
      while (t < nFft) {
        val ang = -2.0 * math.Pi * (k * t) / nFft
        re += v(t) * math.cos(ang)
        im += v(t) * math.sin(ang)
        t += 1
      }
      bands(k / per) += re * re + im * im
      k += 1
    }
    bands
  }

  /** HTK-style triangular mel filterbank: `nMels` rows of `nFft/2`
    * weights. Mel points are uniform on mel(f) = 2595·log10(1+f/700)
    * between 0 and rate/2; filter m rises over [bin(m−1), bin(m)] and
    * falls over [bin(m), bin(m+1)] with bin(i) = ⌊(nFft+1)·hz_i/rate⌋.
    * Public so the oracle can embed the exact weights as literals —
    * the filterbank is MODEL data (like ESD's λ): derived once, then
    * both engines consume identical doubles, so no floor-at-a-boundary
    * divergence can enter the gate. */
  def melFilterbank(rate: Int, nFft: Int, nMels: Int): Array[Array[Double]] = {
    val half = nFft / 2
    val melMax = 2595.0 * math.log10(1.0 + (rate / 2.0) / 700.0)
    val bins = (0 to nMels + 1).map { i =>
      val mel = i * melMax / (nMels + 1)
      val hz = 700.0 * (math.pow(10.0, mel / 2595.0) - 1.0)
      math.floor((nFft + 1) * hz / rate).toInt
    }
    Array.tabulate(nMels, half) { (m, k) =>
      val (lo, mid, hi) = (bins(m), bins(m + 1), bins(m + 2))
      if (k > lo && k <= mid && mid > lo)
        (k - lo).toDouble / (mid - lo)
      else if (k > mid && k < hi && hi > mid)
        (hi - k).toDouble / (hi - mid)
      else 0.0
    }
  }

  /** MFCC over the first `nFft` samples of each WAV clip (zero-padded):
    * power spectrum (naive DFT, fixed accumulation order) → mel
    * filterbank energies → ln(E+1e-10) → DCT-II, keeping `nCoef`
    * coefficients — THE classic audio feature vector (Davis & Mermelstein
    * 1980), feeding the embedding/ANN family the same way image features
    * do. Accumulation orders are fixed (t asc, k asc, m asc) so the SQL
    * list replay is bit-identical. Per-row flatMap, zero shuffle. */
  def audioMfcc(media: DataFrame, nFft: Int = 64, nMels: Int = 8,
      nCoef: Int = 4): DataFrame = {
    require(nCoef >= 1 && nCoef <= nMels, s"nCoef in [1,$nMels]: $nCoef")
    val spark = media.sparkSession
    import spark.implicits._
    val half = nFft / 2
    media.select(col("id"), col("payload")).as[MediaRow]
      .flatMap { m =>
        Codecs.Wav.decode(m.payload).map { case (rate, _, samples) =>
          val v = new Array[Double](nFft)
          var i = 0
          while (i < nFft) {
            v(i) = if (i < samples.length) samples(i) / 32768.0 else 0.0
            i += 1
          }
          val p = dftBands(v, nFft, per = 1) // 1 bin per band = |X(k)|²
          val fb = melFilterbank(rate, nFft, nMels)
          val logE = Array.tabulate(nMels) { mel =>
            var e = 0.0
            var k = 0
            while (k < half) { e += fb(mel)(k) * p(k); k += 1 }
            math.log(e + 1e-10)
          }
          val mfcc = Array.tabulate(nCoef) { j =>
            var c = 0.0
            var mm = 0
            while (mm < nMels) {
              c += logE(mm) * math.cos(math.Pi * j * (mm + 0.5) / nMels)
              mm += 1
            }
            c
          }
          (m.id, rate, samples.length, mfcc.toSeq)
        }
      }.toDF("id", "sample_rate", "n_samples", "mfcc")
  }

  /** Short-time spectrogram: hopped [[audioSpectral]] frames — the 2D
    * time × frequency representation audio feature pipelines consume
    * (silence/music/speech segmentation, coarse fingerprinting). One row
    * per (clip, frame); frames are full windows only (offset + nFft ≤ n).
    * Per-row flatMap, zero shuffle; O(frames · nFft²) with nFft a small
    * constant. */
  def audioSpectrogram(media: DataFrame, nFft: Int = 64, hop: Int = 32,
      nBands: Int = 4): DataFrame = {
    require(nFft > 0 && hop > 0 && (nFft / 2) % nBands == 0,
      s"nBands $nBands must divide nFft/2 = ${nFft / 2}")
    val spark = media.sparkSession
    import spark.implicits._
    val per = nFft / 2 / nBands
    media.select(col("id"), col("payload")).as[MediaRow]
      .flatMap { m =>
        Codecs.Wav.decode(m.payload).toSeq.flatMap { case (_, _, samples) =>
          val nFrames = if (samples.length < nFft) 0
            else (samples.length - nFft) / hop + 1
          (0 until nFrames).map { f =>
            val v = new Array[Double](nFft)
            var i = 0
            while (i < nFft) { v(i) = samples(f * hop + i) / 32768.0; i += 1 }
            (m.id, f, dftBands(v, nFft, per).toSeq)
          }
        }
      }.toDF("id", "frameIdx", "band_energy")
  }

  /** 8-bin gray-histogram + Shannon entropy per decoded raster — the
    * flat/blank/logo screen for image corpora (a near-constant raster
    * has entropy ~0; organic photos fill the bins). Gray = B+G+R
    * (0..765), bin = gray div 96 — all-integer, so counts replay
    * exactly and the entropy is one ln-parity float expression. */
  def imageEntropy(imgs: Dataset[ImageRow]): DataFrame = {
    val spark = imgs.sparkSession
    import spark.implicits._
    imgs.map { im =>
      val bins = new Array[Long](8)
      val n = im.width * im.height
      var i = 0
      while (i < n) {
        val g = (im.bgr(3 * i) & 0xff) + (im.bgr(3 * i + 1) & 0xff) +
          (im.bgr(3 * i + 2) & 0xff)
        bins(math.min(7, g / 96)) += 1
        i += 1
      }
      var ent = 0.0
      var b = 0
      while (b < 8) {
        if (bins(b) > 0) {
          val p = bins(b).toDouble / n
          ent -= p * math.log(p)
        }
        b += 1
      }
      (im.id, n.toLong, bins(0), bins(1), bins(2), bins(3), bins(4),
        bins(5), bins(6), bins(7), ent)
    }.toDF("id", "n_px", "b0", "b1", "b2", "b3", "b4", "b5", "b6", "b7",
      "entropy")
  }

  /** Decode stage: runs per partition (the real pattern for batched codec
    * calls — one codec context per partition, rows streamed through). */
  def decode(media: DataFrame): Dataset[DecodedRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("id"), col("payload")).as[MediaRow]
      .mapPartitions { it =>
        // real codecs initialize per-partition state here
        it.map(m => decodeOne(m.id, m.payload))
      }
  }

  /** Resize stage (stub): scales metadata + re-derives the feature vector
    * deterministically; a real impl resamples pixels. */
  def resize(decoded: Dataset[DecodedRow], maxDim: Int): Dataset[DecodedRow] = {
    val spark = decoded.sparkSession
    import spark.implicits._
    decoded.map { d =>
      val scale = math.min(1.0, maxDim.toDouble / math.max(d.width, d.height))
      d.copy(width = math.max(1, (d.width * scale).toInt),
        height = math.max(1, (d.height * scale).toInt))
    }
  }

  /** MJPEG "video": a payload of CONCATENATED baseline JPEG frames —
    * the simplest real video container (each frame is a full JPEG, so
    * the splitter only needs the SOI/EOI markers and the per-frame
    * decode is the [[Codecs.Jpeg]] path). Returns one row per frame
    * with its luma mean — the signal scene-cut detection runs on. Rows
    * where a frame fails to decode are dropped. Per-row flatMap, zero
    * shuffle. */
  def mjpegFrames(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("id"), col("payload")).as[MediaRow]
      .flatMap { m =>
        val p = m.payload
        // split on SOI (FFD8FF): frame ends where the next SOI begins
        val starts = collection.mutable.ArrayBuffer.empty[Int]
        var i = 0
        while (i + 2 < p.length) {
          if ((p(i) & 0xff) == 0xff && (p(i + 1) & 0xff) == 0xd8 &&
            (p(i + 2) & 0xff) == 0xff) starts += i
          // skip entropy bytes quickly: advance past this SOI so stuffed
          // FF00 pairs inside a frame cannot fake a new SOI (FFD8FF can
          // never appear inside a baseline stream: FF is always followed
          // by 00 or a marker, and D8 data is always preceded by 00)
          i += (if (starts.nonEmpty && i == starts.last) 3 else 1)
        }
        starts.toSeq.zipWithIndex.flatMap { case (s, idx) =>
          val e = if (idx + 1 < starts.length) starts(idx + 1) else p.length
          Codecs.Jpeg.decode(java.util.Arrays.copyOfRange(p, s, e)).map {
            case (w, h, rgb) =>
              var sum = 0L
              var k = 0
              while (k < w * h) { sum += rgb(3 * k) & 0xff; k += 1 }
              (m.id, idx, w, h, sum.toDouble / (w * h) / 255.0)
          }
        }
      }.toDF("id", "frameIdx", "width", "height", "luma")
  }

  /** Scene-change detection over [[mjpegFrames]] output: a cut where
    * the absolute luma jump from the previous frame exceeds
    * `threshold`. One per-id window (frames per clip are bounded), the
    * standard shot-boundary baseline. */
  def sceneCuts(frames: DataFrame, threshold: Double): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("frameIdx")
    frames
      .withColumn("prevLuma", lag("luma", 1).over(w))
      .withColumn("lumaDelta",
        when(col("prevLuma").isNull, lit(0.0))
          .otherwise(abs(col("luma") - col("prevLuma"))))
      .withColumn("isCut", col("lumaDelta") > threshold)
  }

  /** Frame sampling for "video" payloads: every `stride`-th fixed-size
    * chunk becomes a frame (a real impl seeks keyframes). */
  def frameSample(media: DataFrame, frameBytes: Int, stride: Int): Dataset[FrameRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("id"), col("payload")).as[MediaRow]
      .flatMap { m =>
        m.payload.grouped(frameBytes).zipWithIndex
          .filter(_._2 % stride == 0)
          .map { case (chunk, i) => FrameRow(m.id, i, chunk) }
      }
  }
}
