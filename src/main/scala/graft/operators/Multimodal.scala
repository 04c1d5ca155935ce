package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video travel as opaque
  * `binary` columns; decode and feature extraction run partition-batched
  * so a decoder amortizes its init cost per partition, not per row.
  * Container sniffing ([[sniffFormat]]) and the WAV and y4m header
  * walks are dependency-free byte readers; pixel decode
  * ([[decodePixels]]) uses the JDK's ImageIO codecs.
  */
object Multimodal {

  /** REAL container sniffing from magic bytes. */
  def sniffFormat(b: Array[Byte]): String = {
    def u(i: Int) = b(i) & 0xff
    if (b.length >= 3 && u(0) == 0xff && u(1) == 0xd8 && u(2) == 0xff) "jpeg"
    else if (b.length >= 8 && u(0) == 0x89 && u(1) == 'P' && u(2) == 'N' && u(3) == 'G' &&
      u(4) == 0x0d && u(5) == 0x0a && u(6) == 0x1a && u(7) == 0x0a) "png"
    else if (b.length >= 4 && u(0) == 'G' && u(1) == 'I' && u(2) == 'F' && u(3) == '8') "gif"
    else if (b.length >= 12 && u(0) == 'R' && u(1) == 'I' && u(2) == 'F' && u(3) == 'F') {
      val sub = new String(b, 8, 4, "US-ASCII")
      if (sub == "WEBP") "webp" else if (sub == "WAVE") "wav" else "riff"
    } else "unknown"
  }

  /** REAL audio metadata from a RIFF/WAVE header: walks the chunk list
    * to `fmt ` (channels, sample rate, bits per sample) and `data`
    * (payload size → frame count). Dependency-free little-endian byte
    * reader, same tier as [[sniffFormat]]; None when the payload is
    * not a well-formed WAV. Returns (sampleRate, channels,
    * bitsPerSample, nFrames). */
  def parseWavMeta(b: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    if (sniffFormat(b) != "wav") return None
    def u(i: Int) = b(i) & 0xff
    def le16(i: Int) = u(i) | (u(i + 1) << 8)
    def le32(i: Int) = u(i).toLong | (u(i + 1).toLong << 8) |
      (u(i + 2).toLong << 16) | (u(i + 3).toLong << 24)
    // Long cursor: chunk sizes are UNSIGNED 32-bit, so a crafted or
    // corrupt size near 2^32 would wrap an Int cursor negative — a zero
    // advance (infinite loop) or a negative index (IOOBE) on untrusted
    // payload bytes. The Long sum always advances by a strictly
    // positive amount and the `i + 8 <= length` check then terminates.
    var i = 12L
    var (rate, ch, bits) = (-1, -1, -1)
    var dataLen = -1L
    while (i + 8 <= b.length && (rate < 0 || dataLen < 0)) {
      val at = i.toInt
      val id = new String(b, at, 4, "US-ASCII")
      val len = le32(at + 4) // 0 .. 2^32-1, non-negative in a Long
      // fmt parse needs the 16 PCM header bytes both present in the
      // buffer AND covered by the chunk's own declared length
      if (id == "fmt " && len >= 16 && i + 8 + 16 <= b.length) {
        ch = le16(at + 10); rate = le32(at + 12).toInt; bits = le16(at + 22)
      } else if (id == "data") dataLen = len
      // chunks are word-aligned: odd sizes carry a pad byte
      i += 8L + len + (len & 1L)
    }
    if (rate <= 0 || ch <= 0 || bits <= 0 || dataLen < 0) None
    else Some((rate, ch, bits, dataLen / (ch.toLong * (bits / 8).max(1))))
  }

  /** Attach an opaque binary payload + declared format to each row.
    * On a real pipeline the payload IS the stored bytes; here it is the
    * UTF-8 text bytes, which keeps sizes/content deterministic. */
  def withPayload(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      col(textCol).cast("binary").as("payload"),
      when(col(idCol) % 3 === 0, "jpeg")
        .when(col(idCol) % 3 === 1, "png")
        .otherwise("webp").as("format"))

  /** Decoded-pixel feature row: real dimensions plus channel means and
    * a 16-bin luma histogram — the cheap per-image features a training
    * pipeline filters on (blank/over-dark detection, aspect outliers). */
  case class PixelMeta(
      doc_id: Long, format: String, width: Int, height: Int,
      mean_r: Double, mean_g: Double, mean_b: Double, luma_hist: Seq[Long])

  /** Deterministic synthetic-image fixture: one real PNG per row, with
    * dimensions and every pixel a closed-form integer function of
    * (id, x, y) — so a SQL oracle can compute the expected pixel
    * statistics WITHOUT any codec, while the engine path runs the full
    * encode → [[decodePixels]] (ImageIO) → aggregate loop on genuine
    * bytes. PNG because it is lossless: decoded RGB equals the formula
    * exactly. The formula (kept in sync with q133's oracle SQL):
    *   w = 4 + id%5, h = 4 + id%3,
    *   r = (7id+13x+31y)%256, g = (11id+17x+23y)%256, b = (5id+19x+29y)%256. */
  def synthesizeImages(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { ids =>
        System.setProperty("java.awt.headless", "true")
        javax.imageio.ImageIO.setUseCache(false)
        ids.map { id =>
          val w = (4 + id % 5).toInt
          val h = (4 + id % 3).toInt
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val r = ((7 * id + 13 * x + 31 * y) % 256).toInt
              val g = ((11 * id + 17 * x + 23 * y) % 256).toInt
              val b = ((5 * id + 19 * x + 29 * y) % 256).toInt
              img.setRGB(x, y, (r << 16) | (g << 8) | b)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          (id, bos.toByteArray)
        }
      }
      .toDF(idCol, "payload")
  }

  /** REAL pixel decode — round 6 upgrade of the former stub tier. The
    * JDK itself ships PNG/JPEG/GIF/BMP codecs (javax.imageio in
    * java.desktop): no external library, works headless, so the decode
    * is genuine, not simulated. Partition-batched: headless/cache
    * configuration happens once per partition (the "decoder init" slot
    * a JNI codec would use), then each payload decodes in-memory.
    * Undecodable payloads (not an image, truncated) yield a
    * (format, 0×0, NaN-free zero) row rather than failing the task —
    * at corpus scale a poison payload must not kill the job. */
  def decodePixels(df: DataFrame, idCol: String): Dataset[PixelMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition decoder init: headless AWT, no temp-file cache
        System.setProperty("java.awt.headless", "true")
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { case (id, payload) =>
          val fmt = sniffFormat(payload)
          val img =
            try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
            catch { case _: Exception => null }
          if (img == null) PixelMeta(id, fmt, 0, 0, 0.0, 0.0, 0.0, Seq.fill(16)(0L))
          else {
            val (w, h) = (img.getWidth, img.getHeight)
            var (sr, sg, sb) = (0L, 0L, 0L)
            val hist = new Array[Long](16)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
                sr += r; sg += g; sb += b
                // ITU-R BT.601 integer luma, binned to 16 levels
                hist(((r * 299 + g * 587 + b * 114) / 1000) >> 4) += 1
                x += 1
              }
              y += 1
            }
            val n = w.toLong * h
            PixelMeta(id, fmt, w, h, sr.toDouble / n, sg.toDouble / n,
              sb.toDouble / n, hist.toSeq)
          }
        }
      }
  }

  /** Near-duplicate image fixture: groups of 5 images share one
    * closed-form base pattern (group g = id/5); members m = 1..4 flip a
    * single pixel's channels by +128. Within a group the perceptual
    * hashes differ in at most a couple of bits; across groups they are
    * unrelated — the controlled workload for [[dHashImages]], with
    * every pixel an integer function of (id, x, y) so the q152 oracle
    * replays the hash bit-for-bit without a codec (q133 pattern;
    * formulas kept in sync with the oracle SQL). The channel formulas
    * are NONLINEAR in (x, y) — a linear gradient gives every row a
    * constant left-to-right delta, which collapses all dHashes onto a
    * few values and degenerates the workload to near-all-pairs
    * (measured: 27.5k cross-group pairs linear vs 8 nonlinear):
    *   g = id/5, m = id%5, w = 8 + g%3, h = 8 + g%2,
    *   r  = ((3g+5x+7y)·(x+y+1) + g) % 256,
    *   gr = ((11g+3x+5y)·(x+2y+1) + 2g) % 256,
    *   b  = ((7g+2x+3y)·(2x+y+1) + 3g) % 256;
    *   if m>0, pixel ((3m)%w, (2m)%h) gets each channel +128 (mod 256). */
  def synthesizeNearDupImages(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { ids =>
        System.setProperty("java.awt.headless", "true")
        javax.imageio.ImageIO.setUseCache(false)
        ids.map { id =>
          val g = id / 5
          val m = (id % 5).toInt
          val w = (8 + g % 3).toInt
          val h = (8 + g % 2).toInt
          val px = (m * 3) % w
          val py = (m * 2) % h
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              var r = (((3 * g + 5 * x + 7 * y) * (x + y + 1) + g) % 256).toInt
              var gr = (((11 * g + 3 * x + 5 * y) * (x + 2 * y + 1) + 2 * g) % 256).toInt
              var b = (((7 * g + 2 * x + 3 * y) * (2 * x + y + 1) + 3 * g) % 256).toInt
              if (m > 0 && x == px && y == py) {
                r = (r + 128) % 256; gr = (gr + 128) % 256; b = (b + 128) % 256
              }
              img.setRGB(x, y, (r << 16) | (gr << 8) | b)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          (id, bos.toByteArray)
        }
      }
      .toDF(idCol, "payload")
  }

  /** 64-bit difference hash (dHash) of a decoded image: BT.601 integer
    * luma sampled on a 9×8 nearest-neighbor grid (x_i = i·w/9,
    * y_j = j·h/8 — sampling, not area-average, so the arithmetic is
    * pure integer and a SQL oracle can replay it on closed-form
    * fixtures); bit j·8+i set iff gray(x_{i+1},y_j) > gray(x_i,y_j).
    * Near-duplicate images agree on almost every comparison, so
    * Hamming distance on the output ranks perceptual similarity. */
  def dhash64(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val gray = Array.ofDim[Int](8, 9)
    var j = 0
    while (j < 8) {
      var i = 0
      while (i < 9) {
        val rgb = img.getRGB(i * w / 9, j * h / 8)
        val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
        gray(j)(i) = (r * 299 + g * 587 + b * 114) / 1000
        i += 1
      }
      j += 1
    }
    var hash = 0L
    j = 0
    while (j < 8) {
      var i = 0
      while (i < 8) {
        if (gray(j)(i + 1) > gray(j)(i)) hash |= 1L << (j * 8 + i)
        i += 1
      }
      j += 1
    }
    hash
  }

  /** Perceptual hash per image payload: decode (real ImageIO codecs,
    * partition-batched init) → [[dhash64]]. Undecodable payloads yield
    * a null hash for downstream filtering — a poison payload must not
    * kill the job. Output: (idCol, dhash). */
  def dHashImages(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        System.setProperty("java.awt.headless", "true")
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { case (id, payload) =>
          val img =
            try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
            catch { case _: Exception => null }
          if (img == null || img.getWidth == 0 || img.getHeight == 0)
            (id, None: Option[Long])
          else (id, Some(dhash64(img)))
        }
      }
      .toDF(idCol, "dhash")
      .filter(col("dhash").isNotNull)
      .select(col(idCol), col("dhash").cast("long"))
  }

  /** Near-duplicate audio fixture — the q152 playbook for the WAV
    * modality: groups of 5 clips share one closed-form PCM16 base
    * signal (group g = id/5); members m = 1..4 nudge one sample per
    * frame by a small amplitude (+7m at positions t ≡ m mod 64), so
    * within a group the spectral hashes differ in at most a few bits
    * while across groups they are unrelated. Every sample is an
    * integer function of (id, t) — kept in sync with the q159 oracle
    * SQL — and the payload is a genuine RIFF/WAVE container (8 kHz
    * mono PCM16, 576 samples), so the engine path runs the real
    * parse → sample-decode → hash loop on real bytes:
    *   g = id/5, m = id%5,
    *   s(t) = ((3g + 2t)·(t%7 + 1) + 5g·(t%13)) % 4096 − 2048
    *          [+ 7m when m > 0 and t % 64 == m].
    * The base is NONLINEAR in t for the same reason the image fixture
    * is nonlinear in (x, y): a linear ramp collapses all hashes onto a
    * few values and degenerates the candidate join to near-all-pairs. */
  def synthesizeNearDupWavs(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val g = id / 5
          val m = (id % 5).toInt
          val n = 576
          val bytes = new java.io.ByteArrayOutputStream(44 + n * 2)
          def le16(v: Int): Unit = { bytes.write(v & 0xff); bytes.write((v >> 8) & 0xff) }
          def le32(v: Int): Unit = { le16(v & 0xffff); le16((v >> 16) & 0xffff) }
          bytes.write("RIFF".getBytes("US-ASCII")); le32(36 + n * 2)
          bytes.write("WAVE".getBytes("US-ASCII"))
          bytes.write("fmt ".getBytes("US-ASCII")); le32(16)
          le16(1); le16(1); le32(8000); le32(16000); le16(2); le16(16)
          bytes.write("data".getBytes("US-ASCII")); le32(n * 2)
          var t = 0
          while (t < n) {
            var s = (((3 * g + 2 * t) * (t % 7 + 1) + 5 * g * (t % 13)) % 4096 - 2048).toInt
            if (m > 0 && t % 64 == m) s += 7 * m
            le16(s & 0xffff)
            t += 1
          }
          (id, bytes.toByteArray)
        }
      }
      .toDF(idCol, "payload")
  }

  /** PCM16 MONO samples of a WAV payload (sign-extended ints), or None
    * when the container isn't 16-bit single-channel PCM — the regime
    * [[audioDhash64]] is defined over. Walks the chunk list with the
    * same unsigned-Long cursor discipline as [[parseWavMeta]]. */
  def wavPcm16MonoSamples(b: Array[Byte]): Option[Array[Int]] = {
    val meta = parseWavMeta(b)
    if (meta.isEmpty) return None
    val (_, ch, bits, _) = meta.get
    if (ch != 1 || bits != 16) return None
    def u(i: Int) = b(i) & 0xff
    def le32(i: Int) = u(i).toLong | (u(i + 1).toLong << 8) |
      (u(i + 2).toLong << 16) | (u(i + 3).toLong << 24)
    var i = 12L
    while (i + 8 <= b.length) {
      val at = i.toInt
      val id = new String(b, at, 4, "US-ASCII")
      val len = le32(at + 4)
      if (id == "data") {
        val avail = math.min(len, (b.length - at - 8).toLong).toInt
        val out = new Array[Int](avail / 2)
        var k = 0
        while (k < out.length) {
          out(k) = ((u(at + 8 + 2 * k + 1) << 8) | u(at + 8 + 2 * k)).toShort.toInt
          k += 1
        }
        return Some(out)
      }
      i += 8L + len + (len & 1L)
    }
    None
  }

  /** 64-bit spectral-band difference hash of PCM16 audio — the
    * chromaprint idea (band-energy deltas over time) in pure-integer
    * form so a SQL oracle can replay it on closed-form fixtures: the
    * first 9 frames of 64 samples are correlated against the 8 Walsh
    * functions W_b(t) = (−1)^popcount(b & t) (an integer square-wave
    * filterbank — sequency plays frequency's role), band energy is the
    * |correlation|, and bit b·8+f is set iff E[b][f+1] > E[b][f] —
    * exactly [[dhash64]]'s adjacent-comparison layout with (band,
    * frame) for (row, column). Near-identical clips agree on almost
    * every comparison; Hamming distance ranks perceptual similarity. */
  def audioDhash64(samples: Array[Int]): Option[Long] = {
    val frames = 9
    val flen = 64
    if (samples.length < frames * flen) return None
    val e = Array.ofDim[Long](8, frames)
    var f = 0
    while (f < frames) {
      var b = 0
      while (b < 8) {
        var acc = 0L
        var t = 0
        while (t < flen) {
          val sign = if (java.lang.Integer.bitCount(b & t) % 2 == 0) 1 else -1
          acc += samples(f * flen + t).toLong * sign
          t += 1
        }
        e(b)(f) = math.abs(acc)
        b += 1
      }
      f += 1
    }
    var hash = 0L
    var b = 0
    while (b < 8) {
      f = 0
      while (f < 8) {
        if (e(b)(f + 1) > e(b)(f)) hash |= 1L << (b * 8 + f)
        f += 1
      }
      b += 1
    }
    Some(hash)
  }

  /** Perceptual hash per WAV payload: parse (dependency-free byte
    * reader, partition-batched) → [[audioDhash64]]. Unparseable or
    * too-short payloads yield a null hash for downstream filtering —
    * a poison payload must not kill the job. Output: (idCol, dhash) —
    * the same shape [[dHashImages]] emits, so the entire Hamming
    * candidate/keeper/incremental/streaming machinery applies as-is. */
  def audioDHashWavs(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          (id, wavPcm16MonoSamples(payload).flatMap(audioDhash64))
        }
      }
      .toDF(idCol, "dhash")
      .filter(col("dhash").isNotNull)
      .select(col(idCol), col("dhash").cast("long"))
  }

  /** Near-duplicate VIDEO fixture — the q152/q159 playbook for the
    * moving-picture modality: groups of 5 clips share one closed-form
    * frame sequence (group g = id/5); members m = 1..4 bump one
    * pixel's luma by +128 in frame f = m only, so
    * within a group the temporal hashes differ in at most a few bits
    * while across groups they are unrelated. The payload is a genuine
    * YUV4MPEG2 (y4m) container — the uncompressed interchange format
    * ffmpeg/x264 consume — with plane layout C444, so the engine path
    * runs a real header parse → FRAME-marker walk → plane decode on
    * real bytes. Every luma value is an integer function of
    * (id, f, x, y), kept in sync with the q162 oracle SQL:
    *   g = id/5, m = id%5, w = 8 + g%3, h = 8 + g%2, nF = 10 + g%3,
    *   Y(f,x,y) = ((3g + 5x + 7y + 2f)·(x + y + f + 1) + g) % 256
    *              [+128 mod 256 at ((3m)%w, (2m)%h) when m > 0 and
    *               f == m].
    * Nonlinear in (x, y, f) for the same anti-degeneracy reason as the
    * image/audio fixtures (a linear ramp collapses the hash space and
    * turns the candidate join near-all-pairs). Chroma planes are
    * constant 128 (gray): the hash is luma-only, but the parser still
    * has to skip them at the right plane strides. */
  def synthesizeNearDupY4m(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val g = id / 5
          val m = (id % 5).toInt
          val w = (8 + g % 3).toInt
          val h = (8 + g % 2).toInt
          val nF = (10 + g % 3).toInt
          val px = (m * 3) % w
          val py = (m * 2) % h
          val header = s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C444\n"
            .getBytes("US-ASCII")
          val out = new java.io.ByteArrayOutputStream(
            header.length + nF * (6 + 3 * w * h))
          out.write(header)
          var f = 0
          while (f < nF) {
            out.write("FRAME\n".getBytes("US-ASCII"))
            var y = 0
            while (y < h) { // Y plane
              var x = 0
              while (x < w) {
                var v = (((3 * g + 5 * x + 7 * y + 2 * f) * (x + y + f + 1) + g) % 256).toInt
                if (m > 0 && f == m && x == px && y == py) v = (v + 128) % 256
                out.write(v)
                x += 1
              }
              y += 1
            }
            var c = 0 // U then V plane: constant gray
            while (c < 2 * w * h) { out.write(128); c += 1 }
            f += 1
          }
          (id, out.toByteArray)
        }
      }
      .toDF(idCol, "payload")
  }

  /** REAL YUV4MPEG2 header parse: verifies the `YUV4MPEG2 ` magic,
    * reads the space-separated W/H/C parameters from the first line.
    * Returns (width, height, colorspace, headerLen). The y4m spec's
    * default colorspace when no C tag is present is 4:2:0 — reported
    * as "420" here so callers can reject plane layouts they don't
    * implement rather than misread strides. */
  def parseY4mHeader(b: Array[Byte]): Option[(Int, Int, String, Int)] = {
    val magic = "YUV4MPEG2 ".getBytes("US-ASCII")
    if (b.length < magic.length ||
      !java.util.Arrays.equals(b.slice(0, magic.length), magic)) return None
    var nl = magic.length
    while (nl < b.length && b(nl) != '\n') nl += 1
    if (nl >= b.length) return None
    val params = new String(b, magic.length, nl - magic.length, "US-ASCII")
      .split(" ").filter(_.nonEmpty)
    var (w, h) = (-1, -1)
    var cs = "420"
    params.foreach { p =>
      try {
        if (p.startsWith("W")) w = p.substring(1).toInt
        else if (p.startsWith("H")) h = p.substring(1).toInt
        else if (p.startsWith("C")) cs = p.substring(1)
      } catch { case _: NumberFormatException => return None }
    }
    if (w <= 0 || h <= 0) None else Some((w, h, cs, nl + 1))
  }

  /** 64-bit temporal difference hash of a C444 y4m video — the TIRI /
    * temporal-fingerprint idea in pure-integer form so a SQL oracle can
    * replay it on closed-form fixtures. 9 frames are sampled at
    * nearest-neighbor indices f_k = k·nF/9 (exactly [[dhash64]]'s grid
    * arithmetic, applied to time); each sampled frame reduces to 8
    * vertical-strip luma sums (pixel x belongs to strip x·8/w — pure
    * integer, no area weighting); bit r·8+k is set iff
    * S[r][k+1] > S[r][k] — adjacent-comparison layout with (strip,
    * sampled-frame) for (row, column). Near-identical clips agree on
    * almost every comparison; Hamming distance ranks perceptual
    * similarity. Walks the real container: each frame must present its
    * `FRAME` marker line (parameters tolerated per spec), planes
    * advance by C444 strides. Returns None for non-y4m bytes,
    * unsupported colorspaces, truncated frames, or clips shorter than
    * 2 frames — poison payloads must not kill the job. */
  def videoDhash64(b: Array[Byte]): Option[Long] = {
    val hdr = parseY4mHeader(b)
    if (hdr.isEmpty) return None
    val (w, h, cs, headerLen) = hdr.get
    if (cs != "444") return None
    val frameBytes = 3 * w * h
    // walk FRAME markers to index frame payload offsets
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = headerLen
    while (i < b.length) {
      val marker = "FRAME".getBytes("US-ASCII")
      if (i + marker.length > b.length ||
        !java.util.Arrays.equals(b.slice(i, i + marker.length), marker)) return None
      var nl = i + marker.length
      while (nl < b.length && b(nl) != '\n') nl += 1
      if (nl >= b.length || nl + 1 + frameBytes > b.length) return None
      offsets += (nl + 1)
      i = nl + 1 + frameBytes
    }
    val nF = offsets.length
    if (nF < 2) return None
    val sums = Array.ofDim[Long](8, 9)
    var k = 0
    while (k < 9) {
      val at = offsets(k * nF / 9)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          sums(x * 8 / w)(k) += (b(at + y * w + x) & 0xff).toLong
          x += 1
        }
        y += 1
      }
      k += 1
    }
    var hash = 0L
    var r = 0
    while (r < 8) {
      k = 0
      while (k < 8) {
        if (sums(r)(k + 1) > sums(r)(k)) hash |= 1L << (r * 8 + k)
        k += 1
      }
      r += 1
    }
    Some(hash)
  }

  /** Perceptual hash per y4m payload: parse (dependency-free byte
    * reader, partition-batched) → [[videoDhash64]]. Unparseable or
    * too-short payloads yield a null hash for downstream filtering.
    * Output: (idCol, dhash) — the same shape [[dHashImages]] and
    * [[audioDHashWavs]] emit, so the entire Hamming candidate/keeper/
    * incremental/streaming machinery applies to video as-is. */
  def videoDHashY4m(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) => (id, videoDhash64(payload)) }
      }
      .toDF(idCol, "dhash")
      .filter(col("dhash").isNotNull)
      .select(col(idCol), col("dhash").cast("long"))
  }
}
