package graft.ops

import graft.{SparkEntry, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Interop + robustness for the baseline JPEG rung of the codec ladder:
  * the oracle proves our decoder against the closed-form synthesis; these
  * tests prove the WRITER against ImageIO's stock JPEG reader and our
  * DECODER against ImageIO-written streams (which pick their own quant
  * tables and emit nonzero AC coefficients — the general run-length path
  * our own encoder never exercises). */
class JpegSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("mm_jpeg_pixels: jpegAssets payloads decode identically under javax.imageio") {
    val payloads = Multimodal.jpegAssets(spark, TestSpark.sf)
      .orderBy("doc_id").limit(12).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload")).toMap
    val got = SparkEntry.queries("mm_jpeg_pixels")(spark, TestSpark.sf)
      .filter(col("doc_id") < 12).collect()
    assert(got.nonEmpty, "expected stats rows for the first docs")
    got.foreach { r =>
      val id = r.getLong(0)
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payloads(id)))
      assert(img != null, s"ImageIO must read doc $id as a JPEG")
      val w = img.getWidth; val h = img.getHeight
      var sum = 0L; var wsum = 0L
      var mn = Long.MaxValue; var mx = Long.MinValue
      for (y <- 0 until h; x <- 0 until w) {
        // raw raster sample — getRGB would route the gray value through
        // the linear-gray→sRGB colorspace conversion and gamma-shift it
        val v = img.getRaster.getSample(x, y, 0).toLong
        sum += v; wsum += (y.toLong * w + x) * v
        if (v < mn) mn = v; if (v > mx) mx = v
      }
      assert(r.getLong(2) == w.toLong * h, s"doc $id n_px")
      assert(r.getLong(3) == sum, s"doc $id sum_v vs ImageIO")
      assert(r.getLong(4) == wsum, s"doc $id wsum_v vs ImageIO")
      assert(r.getLong(5) == mn && r.getLong(6) == mx, s"doc $id min/max")
    }
  }

  test("decodeJpegImage reads JPEGs written by ImageIO (foreign tables, real ACs)") {
    // A non-flat gradient forces nonzero AC coefficients through the
    // general (run,size) loop and ImageIO's own quant/Huffman tables.
    // JPEG is lossy and T.81 does not mandate a bit-exact IDCT, so the
    // cross-decoder check is ±1 per pixel — still fatal for any block
    // ordering, zigzag, dequant or transform-orientation slip (those
    // diverge by tens of levels).
    val w = 32; val h = 24
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w) {
      val v = (x * 5 + y * 3) % 256
      img.getRaster.setSample(x, y, 0, v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos))
    val bytes = bos.toByteArray
    val dec = Multimodal.decodeJpegImage(bytes)
    assert(dec.isDefined, "our decoder must accept the ImageIO stream")
    val (dw, dh, px) = dec.get
    assert(dw == w && dh == h)
    val ref = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    var maxDiff = 0
    for (y <- 0 until h; x <- 0 until w) {
      val theirs = ref.getRaster.getSample(x, y, 0)
      val ours = px(y * w + x)
      maxDiff = math.max(maxDiff, math.abs(theirs - ours))
    }
    assert(maxDiff <= 1,
      s"cross-decoder pixel drift $maxDiff > 1 (IDCT/zigzag/dequant slip)")
  }

  test("decodeJpegImage: hand-built stream drives the ZRL and (run,size) AC paths") {
    // Our own encoder only ever emits EOB, so the general AC run-length
    // machinery (ZRL = 16 zeros, nonzero coefficient after a run, zigzag
    // placement, dequantization of an AC slot) is pinned here with a
    // synthetic single-block stream: DC cat 0, ZRL, (run=2, size=3,
    // value +5), EOB → exactly one nonzero coefficient at zigzag index
    // 1+16+2 = 19 (natural index Zigzag(19)), dequantized to 5·16 = 80.
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def u16(v: Int): Unit = { u8(v >> 8); u8(v) }
    def marker(m: Int): Unit = { u8(0xff); u8(m) }
    marker(0xd8)
    marker(0xdb); u16(67); u8(0x00); (0 until 64).foreach(_ => u8(16))
    marker(0xc0); u16(11); u8(8); u16(8); u16(8); u8(1); u8(1); u8(0x11); u8(0)
    def dht(cls: Int, bits: Array[Int], vals: Array[Int]): Unit = {
      marker(0xc4); u16(2 + 1 + 16 + vals.length); u8(cls << 4)
      bits.foreach(u8); vals.foreach(u8)
    }
    dht(0, Multimodal.DcBits, Multimodal.DcVals)
    dht(1, Multimodal.AcBits, Multimodal.AcVals)
    marker(0xda); u16(8); u8(1); u8(1); u8(0x00); u8(0); u8(63); u8(0)
    val dcC = Multimodal.huffCodes(Multimodal.DcBits, Multimodal.DcVals)
    val acC = Multimodal.huffCodes(Multimodal.AcBits, Multimodal.AcVals)
    var acc = 0; var nbits = 0
    def put(code: Int, len: Int): Unit = {
      acc = (acc << len) | (code & ((1 << len) - 1)); nbits += len
      while (nbits >= 8) {
        val b = (acc >> (nbits - 8)) & 0xff
        u8(b); if (b == 0xff) u8(0x00)
        nbits -= 8
      }
    }
    val (dc0, dl0) = dcC(0); put(dc0, dl0)       // DC diff = 0
    val (zrl, zl) = acC(0xf0); put(zrl, zl)      // 16 zeros
    val (rs, rl) = acC(0x23); put(rs, rl)        // run 2, size 3
    put(5, 3)                                    // amplitude +5
    val (eob, el) = acC(0x00); put(eob, el)      // rest zero
    if (nbits > 0) put((1 << (8 - nbits)) - 1, 8 - nbits)
    marker(0xd9)
    val dec = Multimodal.decodeJpegImage(out.toByteArray)
    assert(dec.isDefined, "decoder must accept the synthetic stream")
    val (w, h, px) = dec.get
    assert(w == 8 && h == 8)
    // Independent expectation: IDCT of the single dequantized coefficient.
    val nat = Multimodal.Zigzag(19)
    val v0 = nat / 8; val u0 = nat % 8
    def cf(i: Int) = if (i == 0) 1.0 / math.sqrt(2.0) else 1.0
    val exp = Array.tabulate(64) { i =>
      val y = i / 8; val x = i % 8
      val s = 0.25 * cf(v0) * cf(u0) * 80.0 *
        math.cos((2 * y + 1) * v0 * math.Pi / 16) *
        math.cos((2 * x + 1) * u0 * math.Pi / 16)
      val p = math.floor(s + 128.5).toInt
      if (p < 0) 0 else if (p > 255) 255 else p
    }
    val maxDiff = (0 until 64).map(i => math.abs(px(i) - exp(i))).max
    assert(maxDiff <= 1,
      s"AC run-length/zigzag/dequant mismatch: max pixel diff $maxDiff")
    assert(exp.distinct.length > 4 && px.distinct.length > 4,
      "the expected pattern must be non-flat (a flat decode hides slips)")
  }

  test("decodeJpegImage rejects malformed streams instead of crashing") {
    val good = Multimodal.jpegAssets(spark, TestSpark.sf)
      .orderBy("doc_id").limit(1).collect()(0).getAs[Array[Byte]]("payload")
    assert(Multimodal.decodeJpegImage(good).isDefined)
    assert(Multimodal.decodeJpegImage(Array[Byte]()).isEmpty, "empty")
    assert(Multimodal.decodeJpegImage(good.slice(0, 2)).isEmpty, "SOI only")
    assert(Multimodal.decodeJpegImage(good.slice(0, good.length / 2)).isEmpty,
      "truncated mid-header")
    val noSoi = good.clone(); noSoi(1) = 0x00
    assert(Multimodal.decodeJpegImage(noSoi).isEmpty, "bad SOI")
    // PNG bytes through the JPEG decoder must reject cleanly.
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    assert(Multimodal.decodeJpegImage(png).isEmpty, "foreign container")
    // A DHT whose declared length is too short for even the 16 bits-bytes
    // must return None, never index past the segment (r12 review: the
    // pre-fix code read the bits array before the length check).
    val shortDht = Array(0xff, 0xd8, 0xff, 0xc4, 0x00, 0x05, 0x00, 0x01,
      0x02).map(_.toByte)
    assert(Multimodal.decodeJpegImage(shortDht).isEmpty, "short DHT")
  }

  test("header walk: fill bytes and TEM skip; RSTn/EOI before the scan reject") {
    val good = Multimodal.jpegAssets(spark, TestSpark.sf)
      .orderBy("doc_id").limit(1).collect()(0).getAs[Array[Byte]]("payload")
    val base = Multimodal.decodeJpegImage(good)
    assert(base.isDefined)
    // Array equality is referential — compare decoded content.
    def key(o: Option[(Int, Int, Array[Int])]): Option[(Int, Int, Seq[Int])] =
      o.map { case (w, h, px) => (w, h, px.toSeq) }
    def insertAfterSoi(extra: Array[Byte]): Array[Byte] =
      good.slice(0, 2) ++ extra ++ good.drop(2)
    // T.81 B.1.1.2: any number of 0xff fill bytes may precede a marker.
    val filled = insertAfterSoi(Array(0xff.toByte, 0xff.toByte))
    assert(key(Multimodal.decodeJpegImage(filled)) == key(base), "fill bytes")
    // TEM (0xff 0x01) is standalone — a length-less marker that the
    // pre-fix walk would have mis-read a u16 "length" after.
    val tem = insertAfterSoi(Array(0xff.toByte, 0x01.toByte))
    assert(key(Multimodal.decodeJpegImage(tem)) == key(base), "TEM skip")
    // RSTn and EOI are length-less AND illegal before the scan: the
    // stream must reject, never parse bytes after them as a segment.
    val rst = insertAfterSoi(Array(0xff.toByte, 0xd0.toByte))
    assert(Multimodal.decodeJpegImage(rst).isEmpty, "pre-scan RST0")
    val eoi = insertAfterSoi(Array(0xff.toByte, 0xd9.toByte))
    assert(Multimodal.decodeJpegImage(eoi).isEmpty, "pre-scan EOI")
    // A zero segment length can never loop or self-alias.
    val zeroLen = insertAfterSoi(Array(0xff.toByte, 0xfe.toByte, 0x00, 0x00))
    assert(Multimodal.decodeJpegImage(zeroLen).isEmpty, "len < 2")
    // FF 00 is not a marker outside entropy-coded data — a walk that
    // parsed a "length" after it could be steered to swallow real header
    // segments (review finding, round 13): must reject, not mis-accept.
    val ff00 = insertAfterSoi(Array(0xff.toByte, 0x00.toByte, 0x00, 0x02))
    assert(Multimodal.decodeJpegImage(ff00).isEmpty, "FF 00 in header")
  }

  test("encodeJpeg is codepoint-aligned and 7-bit-clamped on non-ASCII text") {
    // 'é' is 2 UTF-8 bytes, '中' is 3, U+1F600 is 4 (and a surrogate PAIR
    // in UTF-16) — byte- or char-indexed synthesis would desync the block
    // values; the contract is one CODEPOINT per block, clamped to 127
    // exactly as the oracle's least(ord(..), 127).
    val text = "aé中😀b"
    val cps = text.codePoints().toArray
    assert(cps.length == 5)
    val expected = cps.map(c => math.min(c, 127)).map(c => c - (c % 2))
    assert(expected.toSeq == Seq(96, 126, 126, 126, 98))
    val bytes = Multimodal.encodeJpeg(text, 40, 8) // 5 blocks across
    val dec = Multimodal.decodeJpegImage(bytes)
    assert(dec.isDefined, "non-ASCII synthesis must decode")
    val (w, h, px) = dec.get
    assert(w == 40 && h == 8)
    for (k <- 0 until 5; y <- 0 until 8; x <- 0 until 8)
      assert(px(y * w + k * 8 + x) == expected(k),
        s"block $k pixel ($x,$y): ${px(y * w + k * 8 + x)} != ${expected(k)}")
  }

  test("decodeJpegImage handles arbitrary (non-multiple-of-8) dimensions") {
    // Real-world JPEGs pad edge MCUs; the decoder must decode the padded
    // blocks and clip on write-out. 30x20 forces a ragged right column
    // and bottom row of MCUs.
    val w = 30; val h = 20
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, (x * 7 + y * 11) % 256)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos))
    val bytes = bos.toByteArray
    val dec = Multimodal.decodeJpegImage(bytes)
    assert(dec.isDefined, "arbitrary dims must decode")
    val (dw, dh, px) = dec.get
    assert(dw == w && dh == h && px.length == w * h)
    val ref = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    val maxDiff = (for (y <- 0 until h; x <- 0 until w)
      yield math.abs((ref.getRaster.getSample(x, y, 0)) - px(y * w + x))).max
    assert(maxDiff <= 1, s"ragged-edge decode drift $maxDiff > 1")
  }
}
