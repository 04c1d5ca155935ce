package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "small payload"),
    (1L, "a considerably larger payload with many more bytes in it, " +
      "padded well past two frame widths so the sampler emits multiple frames"),
    (2L, "ünïcode båit€s")).toDF("doc_id", "text")

  test("withPayload: binary column with utf-8 byte length, cyclic format") {
    val p = Multimodal.withPayload(docs, "doc_id", "text")
    assert(p.schema("payload").dataType.typeName == "binary")
    val rows = p.select(col("doc_id"), octet_length(col("payload")), col("format"))
      .as[(Long, Int, String)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(rows(0L) == ("small payload".getBytes("UTF-8").length, "jpeg"))
    assert(rows(2L)._1 == "ünïcode båit€s".getBytes("UTF-8").length)
    assert(rows(1L)._2 == "png" && rows(2L)._2 == "webp")
  }

  test("header parsing is REAL: hand-built PNG/GIF/JPEG/WAV headers parse correctly") {
    // PNG: 8-byte signature + IHDR chunk (len, type, width=640, height=480 BE)
    val png = Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 2, 0x80, /* 640 */ 0, 0, 1, 0xE0 /* 480 */, 8, 6, 0, 0, 0).map(_.toByte)
    // GIF89a: screen descriptor 320x200 little-endian
    val gif = ("GIF89a".getBytes("US-ASCII") ++
      Array[Int](0x40, 0x01 /* 320 */, 0xC8, 0x00 /* 200 */).map(_.toByte))
    // JPEG: SOI, APP0 (len 4), SOF0 (len 11: precision 8, h=480, w=640, 1 comp)
    val jpeg = Array[Int](0xFF, 0xD8, 0xFF, 0xE0, 0x00, 0x04, 0x4A, 0x46,
      0xFF, 0xC0, 0x00, 0x0B, 0x08, 0x01, 0xE0, 0x02, 0x80, 0x01, 0x01, 0x11, 0x00)
      .map(_.toByte)
    // WAV: RIFF....WAVE
    val wav = ("RIFF".getBytes("US-ASCII") ++ Array[Byte](4, 0, 0, 0) ++
      "WAVE".getBytes("US-ASCII"))

    assert(Multimodal.sniffFormat(png) == "png")
    assert(Multimodal.sniffFormat(gif) == "gif")
    assert(Multimodal.sniffFormat(jpeg) == "jpeg")
    assert(Multimodal.sniffFormat(wav) == "wav")
    assert(Multimodal.sniffFormat("not an image".getBytes) == "unknown")
  }

  test("WAV chunk walk is REAL: fmt/data chunks parse; malformed inputs yield None") {
    def le16(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Long) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    // canonical 44.1 kHz stereo 16-bit file with an ODD-sized junk
    // chunk first (exercises word-alignment padding) and 1764 data
    // bytes = 441 frames
    val wav = "RIFF".getBytes("US-ASCII") ++ le32(100) ++
      "WAVE".getBytes("US-ASCII") ++
      "junk".getBytes("US-ASCII") ++ le32(3) ++ Array[Byte](1, 2, 3, 0) ++
      "fmt ".getBytes("US-ASCII") ++ le32(16) ++
      le16(1) ++ le16(2) ++ le32(44100) ++ le32(176400) ++ le16(4) ++ le16(16) ++
      "data".getBytes("US-ASCII") ++ le32(1764)
    assert(Multimodal.parseWavMeta(wav).contains((44100, 2, 16, 441L)))
    // not a wav / truncated / no fmt chunk
    assert(Multimodal.parseWavMeta("RIFFxxxxWEBP".getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.parseWavMeta(
      "RIFF".getBytes("US-ASCII") ++ le32(4) ++ "WAVE".getBytes("US-ASCII")).isEmpty)
    // ADVERSARIAL sizes: unsigned 32-bit chunk lengths that wrap an Int
    // cursor — 0xFFFFFFF8 once gave a ZERO advance (infinite loop) and
    // 0x80000000 a negative one (IndexOutOfBounds). Both must terminate
    // and yield None, including when a parseable fmt chunk precedes the
    // bad one (no data chunk ever found).
    for (bad <- Seq(0xFFFFFFF8L, 0x80000000L, 0xFFFFFFFFL)) {
      val evil = "RIFF".getBytes("US-ASCII") ++ le32(100) ++
        "WAVE".getBytes("US-ASCII") ++
        "junk".getBytes("US-ASCII") ++ le32(bad) ++ new Array[Byte](64)
      assert(Multimodal.parseWavMeta(evil).isEmpty, s"len=$bad must yield None")
      val evilAfterFmt = "RIFF".getBytes("US-ASCII") ++ le32(100) ++
        "WAVE".getBytes("US-ASCII") ++
        "fmt ".getBytes("US-ASCII") ++ le32(16) ++
        le16(1) ++ le16(2) ++ le32(44100) ++ le32(176400) ++ le16(4) ++ le16(16) ++
        "junk".getBytes("US-ASCII") ++ le32(bad) ++ new Array[Byte](64)
      assert(Multimodal.parseWavMeta(evilAfterFmt).isEmpty)
    }
    // fmt chunk whose declared length is too short for the PCM header
    // must not be trusted (the 16 bytes after it belong to other chunks)
    val shortFmt = "RIFF".getBytes("US-ASCII") ++ le32(100) ++
      "WAVE".getBytes("US-ASCII") ++
      "fmt ".getBytes("US-ASCII") ++ le32(4) ++ Array[Byte](1, 0, 2, 0) ++
      "data".getBytes("US-ASCII") ++ le32(4) ++ new Array[Byte](4)
    assert(Multimodal.parseWavMeta(shortFmt).isEmpty)
  }

  /** Deterministic 2-color test image encoded with the JDK's own codec:
    * left half solid (r0,g0,b0), right half solid (r1,g1,b1). */
  private def encodeImage(w: Int, h: Int, fmt: String,
      left: Int, right: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, if (x < w / 2) left else right)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  test("decodePixels: REAL decode — exact dims and channel means for lossless PNG") {
    val red = 0xFF0000; val blue = 0x0000FF
    val png = encodeImage(16, 10, "png", red, blue)   // half red, half blue
    val gray = encodeImage(8, 8, "png", 0x808080, 0x808080)
    val jpeg = encodeImage(32, 24, "jpeg", 0x404040, 0x404040)
    val junk = "definitely not an image".getBytes("UTF-8")
    val media = Seq((1L, png), (2L, gray), (3L, jpeg), (4L, junk))
      .toDF("doc_id", "payload")
    val out = Multimodal.decodePixels(media, "doc_id")
      .collect().map(m => m.doc_id -> m).toMap
    // PNG is lossless: means are exact
    assert(out(1L).format == "png" && out(1L).width == 16 && out(1L).height == 10)
    assert(out(1L).mean_r == 127.5 && out(1L).mean_g == 0.0 && out(1L).mean_b == 127.5,
      s"half-red/half-blue means, got ${out(1L)}")
    assert(out(2L).mean_r == 128.0 && out(2L).mean_g == 128.0 && out(2L).mean_b == 128.0)
    // luma histogram sums to the pixel count and lands in the right bins:
    // red luma 76 → bin 4, blue luma 29 → bin 1 (BT.601 integer)
    assert(out(1L).luma_hist.sum == 160L)
    assert(out(1L).luma_hist(4) == 80L && out(1L).luma_hist(1) == 80L,
      s"luma bins, got ${out(1L).luma_hist}")
    // JPEG is lossy: dims exact, flat-gray mean within codec tolerance
    assert(out(3L).width == 32 && out(3L).height == 24)
    assert(math.abs(out(3L).mean_r - 64.0) < 2.0, s"jpeg mean_r ${out(3L).mean_r}")
    // junk payload: survives as a zero row, never kills the task
    assert(out(4L).width == 0 && out(4L).height == 0 && out(4L).luma_hist.sum == 0L)
  }

  test("dHash: decode path equals the closed-form formula; near-dups cluster by group") {
    val ids = (0L until 50L).toDF("doc_id")
    val hashes = Multimodal.dHashImages(
      Multimodal.synthesizeNearDupImages(ids, "doc_id"), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // formula twin: same arithmetic, no codec
    def formulaHash(id: Long): Long = {
      val g = id / 5; val m = (id % 5).toInt
      val w = (8 + g % 3).toInt; val h = (8 + g % 2).toInt
      val px = (m * 3) % w; val py = (m * 2) % h
      def gray(x: Int, y: Int): Int = {
        var r = (((3 * g + 5 * x + 7 * y) * (x + y + 1) + g) % 256).toInt
        var gr = (((11 * g + 3 * x + 5 * y) * (x + 2 * y + 1) + 2 * g) % 256).toInt
        var b = (((7 * g + 2 * x + 3 * y) * (2 * x + y + 1) + 3 * g) % 256).toInt
        if (m > 0 && x == px && y == py) {
          r = (r + 128) % 256; gr = (gr + 128) % 256; b = (b + 128) % 256
        }
        (r * 299 + gr * 587 + b * 114) / 1000
      }
      var hash = 0L
      for (j <- 0 until 8; i <- 0 until 8)
        if (gray((i + 1) * w / 9, j * h / 8) > gray(i * w / 9, j * h / 8))
          hash |= 1L << (j * 8 + i)
      hash
    }
    for (id <- 0L until 50L)
      assert(hashes(id) == formulaHash(id), s"id $id: decode != formula")
    // within a group the single-pixel perturbation flips at most 2 bits
    for (g <- 0 until 10; m <- 1 until 5) {
      val d = java.lang.Long.bitCount(hashes(g * 5L) ^ hashes(g * 5L + m))
      assert(d <= 2, s"group $g member $m hamming $d")
    }
    // undecodable payloads are dropped, not fatal
    val junk = Seq((99L, "nope".getBytes("UTF-8"))).toDF("doc_id", "payload")
    assert(Multimodal.dHashImages(junk, "doc_id").count() == 0)
  }

  test("WAV near-dup fixture: container round-trips and samples match the formula") {
    val wavs = Multimodal.synthesizeNearDupWavs(
      (0L until 20L).toDF("doc_id"), "doc_id")
      .as[(Long, Array[Byte])].collect().toMap
    for ((id, payload) <- wavs) {
      assert(Multimodal.sniffFormat(payload) == "wav")
      assert(Multimodal.parseWavMeta(payload).contains((8000, 1, 16, 576L)), s"id $id")
      val samples = Multimodal.wavPcm16MonoSamples(payload).get
      assert(samples.length == 576)
      val g = id / 5; val m = (id % 5).toInt
      for (t <- 0 until 576) {
        var s = (((3 * g + 2 * t) * (t % 7 + 1) + 5 * g * (t % 13)) % 4096 - 2048).toInt
        if (m > 0 && t % 64 == m) s += 7 * m
        assert(samples(t) == s, s"id $id sample $t")
      }
    }
  }

  test("audioDhash64: spectral hash separates groups, tolerates nudges, rejects junk") {
    val hashes = Multimodal.audioDHashWavs(
      Multimodal.synthesizeNearDupWavs((0L until 50L).toDF("doc_id"), "doc_id"),
      "doc_id").as[(Long, Long)].collect().toMap
    assert(hashes.size == 50)
    // members nudge one sample per frame by ≤28 against ±2048 energies:
    // within a group the hash moves at most a few bits
    for (g <- 0 until 10; m <- 1 until 5) {
      val d = java.lang.Long.bitCount(hashes(g * 5L) ^ hashes(g * 5L + m))
      assert(d <= 3, s"group $g member $m hamming $d")
    }
    // distinct groups must not collapse onto one hash (the nonlinear-
    // base guarantee): demand a healthy spread of distinct base hashes
    assert((0 until 10).map(g => hashes(g * 5L)).distinct.size >= 8)
    // wavPcm16MonoSamples: stereo and short payloads are rejected
    val mono = wavs(8000, 1, 16, Array.fill(1152)(0.toByte))
    assert(Multimodal.wavPcm16MonoSamples(mono).exists(_.length == 576))
    val stereo = wavs(8000, 2, 16, Array.fill(1152)(0.toByte))
    assert(Multimodal.wavPcm16MonoSamples(stereo).isEmpty)
    assert(Multimodal.audioDhash64(Array.fill(100)(0)).isEmpty, "too short")
    val junk = Seq((7L, "not audio".getBytes("UTF-8"))).toDF("doc_id", "payload")
    assert(Multimodal.audioDHashWavs(junk, "doc_id").count() == 0)
  }

  test("y4m near-dup fixture: container round-trips and luma matches the formula") {
    val vids = Multimodal.synthesizeNearDupY4m(
      (0L until 20L).toDF("doc_id"), "doc_id")
      .as[(Long, Array[Byte])].collect().toMap
    for ((id, payload) <- vids) {
      val g = id / 5; val m = (id % 5).toInt
      val w = (8 + g % 3).toInt; val h = (8 + g % 2).toInt
      val nF = (10 + g % 3).toInt
      val hdr = Multimodal.parseY4mHeader(payload)
      assert(hdr.exists { case (pw, ph, cs, _) => pw == w && ph == h && cs == "444" },
        s"id $id header $hdr")
      val headerLen = hdr.get._4
      // walk frames by hand and check every luma byte against the formula
      val frameBytes = 3 * w * h
      var at = headerLen
      for (f <- 0 until nF) {
        assert(new String(payload, at, 6, "US-ASCII") == "FRAME\n", s"id $id frame $f")
        at += 6
        for (y <- 0 until h; x <- 0 until w) {
          var v = (((3 * g + 5 * x + 7 * y + 2 * f) * (x + y + f + 1) + g) % 256).toInt
          if (m > 0 && f == m && x == (3 * m) % w && y == (2 * m) % h)
            v = (v + 128) % 256
          assert((payload(at + y * w + x) & 0xff) == v, s"id $id f=$f x=$x y=$y")
        }
        // chroma planes constant gray
        assert((payload(at + w * h) & 0xff) == 128 && (payload(at + 3 * w * h - 1) & 0xff) == 128)
        at += frameBytes
      }
      assert(at == payload.length, s"id $id trailing bytes")
    }
  }

  test("videoDhash64: temporal hash separates groups, tolerates nudges, rejects junk") {
    val hashes = Multimodal.videoDHashY4m(
      Multimodal.synthesizeNearDupY4m((0L until 50L).toDF("doc_id"), "doc_id"),
      "doc_id").as[(Long, Long)].collect().toMap
    assert(hashes.size == 50)
    // members bump one pixel by +128 in a single frame against strip
    // sums in the thousands: within a group the hash moves at most 2 bits
    for (g <- 0 until 10; m <- 1 until 5) {
      val d = java.lang.Long.bitCount(hashes(g * 5L) ^ hashes(g * 5L + m))
      assert(d <= 3, s"group $g member $m hamming $d")
    }
    // distinct groups must not collapse onto one hash
    assert((0 until 10).map(g => hashes(g * 5L)).distinct.size >= 8)
    // guards: non-y4m, unsupported colorspace, truncated frame, <2 frames
    assert(Multimodal.videoDhash64("not video".getBytes("UTF-8")).isEmpty)
    val c420 = "YUV4MPEG2 W8 H8 C420\nFRAME\n".getBytes("US-ASCII") ++
      Array.fill(96)(0.toByte)
    assert(Multimodal.videoDhash64(c420).isEmpty, "unsupported colorspace")
    val good = Multimodal.synthesizeNearDupY4m(Seq(0L).toDF("doc_id"), "doc_id")
      .as[(Long, Array[Byte])].collect().head._2
    assert(Multimodal.videoDhash64(good.dropRight(1)).isEmpty, "truncated frame")
    val oneFrame = "YUV4MPEG2 W8 H8 C444\nFRAME\n".getBytes("US-ASCII") ++
      Array.fill(192)(0.toByte)
    assert(Multimodal.videoDhash64(oneFrame).isEmpty, "single frame")
    val junk = Seq((7L, "not video".getBytes("UTF-8"))).toDF("doc_id", "payload")
    assert(Multimodal.videoDHashY4m(junk, "doc_id").count() == 0)
  }

  /** Minimal WAV builder for negative cases. */
  private def wavs(rate: Int, ch: Int, bits: Int, data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
    def le32(v: Int): Unit = { le16(v & 0xffff); le16((v >> 16) & 0xffff) }
    bos.write("RIFF".getBytes("US-ASCII")); le32(36 + data.length)
    bos.write("WAVE".getBytes("US-ASCII"))
    bos.write("fmt ".getBytes("US-ASCII")); le32(16)
    le16(1); le16(ch); le32(rate); le32(rate * ch * bits / 8); le16(ch * bits / 8); le16(bits)
    bos.write("data".getBytes("US-ASCII")); le32(data.length)
    bos.write(data)
    bos.toByteArray
  }
}
