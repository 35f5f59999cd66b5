package graft.ops

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files
import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import graft.{SparkEntry, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The multimodal module ([[Multimodal]]): each `mm_*` decode query
  * cross-checked against an independent path (ImageIO's `getRGB`, a hand
  * RIFF walk, the synthesis formulas), the JDK decoders on foreign-written
  * and malformed payloads, the decode budget, and the asset writers (LZW,
  * JPEG synthesis). The corruption battery is [[CodecFuzzSpec]]. */
class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def payloads(df: org.apache.spark.sql.DataFrame, n: Int): Map[Long, Array[Byte]] =
    df.orderBy("doc_id").limit(n).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload")).toMap

  private def firstPayload(df: org.apache.spark.sql.DataFrame): Array[Byte] =
    payloads(df, 1).head._2

  /** (n, sum, weighted sum, min, max) of `v(x, y)` over a w×h grid. */
  private def gridStats(w: Int, h: Int)(v: (Int, Int) => Int): (Long, Long, Long, Long, Long) = {
    var sum = 0L; var wsum = 0L
    var mn = Long.MaxValue; var mx = Long.MinValue
    for (y <- 0 until h; x <- 0 until w) {
      val s = v(x, y).toLong
      sum += s; wsum += (y.toLong * w + x) * s
      if (s < mn) mn = s; if (s > mx) mx = s
    }
    (w.toLong * h, sum, wsum, mn, mx)
  }

  private def rowStats(r: org.apache.spark.sql.Row, from: Int): (Long, Long, Long, Long, Long) =
    (r.getLong(from), r.getLong(from + 1), r.getLong(from + 2), r.getLong(from + 3),
      r.getLong(from + 4))

  private def imageioRead(bytes: Array[Byte]): BufferedImage = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    assert(img != null, "ImageIO must read the payload as an image")
    img
  }

  // --- BMP ---

  test("mm_pixel_stats: bmpAssets payloads decode identically under javax.imageio") {
    // The oracle proves the decode against text-derived first principles;
    // this proves the query's channel order against ImageIO's getRGB.
    val bmps = payloads(Multimodal.bmpAssets(spark, TestSpark.sf), 12)
    val got = SparkEntry.queries("mm_pixel_stats")(spark, TestSpark.sf)
      .filter(col("doc_id") < 12).collect()
    assert(got.length == 36) // 12 docs x 3 channels
    got.foreach { r =>
      val id = r.getLong(0); val c = r.getInt(1)
      val img = imageioRead(bmps(id))
      // BMP 24-bpp stores B,G,R in byte order; channel c is the c-th byte
      // of the pixel, so c=0 → blue, 1 → green, 2 → red.
      val shift = Seq(0, 8, 16)(c)
      assert(rowStats(r, 2) ==
        gridStats(img.getWidth, img.getHeight)((x, y) => (img.getRGB(x, y) >> shift) & 0xff),
        s"doc $id ch $c")
    }
  }

  test("decodeImage returns empty for malformed and truncated BMPs") {
    assert(Multimodal.decodeImage(Array[Byte]()).isEmpty)
    assert(Multimodal.decodeImage("hello".getBytes).isEmpty)
    val real = firstPayload(Multimodal.bmpAssets(spark, TestSpark.sf))
    assert(Multimodal.decodeImage(real).nonEmpty)
    assert(Multimodal.decodeImage(real.take(40)).isEmpty, "truncated header")
    assert(Multimodal.decodeImage(real.take(real.length - 4)).isEmpty,
      "truncated pixel rows")
  }

  test("image stats emit no rows for one-band payloads: 8-bpp BMP, gray PNG") {
    // ImageIO reads 8-bpp BMPs and gray PNGs into one raster band; the BMP
    // and PNG queries read bands 2,1,0 and 0,1,2. Such a payload must give
    // no rows inside mapPartitions, not an out-of-range band read that
    // fails the task. The fixture BMP relabelled 8-bpp (no palette) is
    // refused by ImageIO's header read; it too gives no rows.
    def written(fmt: String, imageType: Int): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      assert(ImageIO.write(new BufferedImage(5, 3, imageType), fmt, bos))
      bos.toByteArray
    }
    val badBpp = firstPayload(Multimodal.bmpAssets(spark, TestSpark.sf)).clone()
    badBpp(28) = 8 // biBitCount
    val oneBand = Seq(
      "8-bpp BMP" -> (written("bmp", BufferedImage.TYPE_BYTE_INDEXED), Seq(2, 1, 0)),
      "gray PNG" -> (written("png", BufferedImage.TYPE_BYTE_GRAY), Seq(0, 1, 2)))
    oneBand.foreach { case (what, (b, _)) =>
      assert(Multimodal.decodeImage(b).exists(_.getRaster.getNumBands == 1),
        s"ImageIO reads the $what into one band")
    }
    (oneBand :+ ("fixture BMP relabelled 8-bpp" -> (badBpp, Seq(2, 1, 0)))).foreach {
      case (what, (b, bands)) =>
        val rows = Multimodal.imageStats(spark, Seq((0L, b)).toDF("doc_id", "payload"), bands)
        assert(rows.collect().isEmpty, s"$what gives no rows")
    }
  }

  // --- PNG ---

  test("mm_png_pixels: pngAssets payloads decode identically under javax.imageio") {
    val pngs = payloads(Multimodal.pngAssets(spark, TestSpark.sf), 12)
    val got = SparkEntry.queries("mm_png_pixels")(spark, TestSpark.sf)
      .filter(col("doc_id") < 12).collect()
    assert(got.length == 36)
    got.foreach { r =>
      val id = r.getLong(0); val c = r.getInt(1)
      val img = imageioRead(pngs(id))
      // PNG RGB: channel 0 = red byte first in the stream.
      val shift = Seq(16, 8, 0)(c)
      assert(rowStats(r, 2) ==
        gridStats(img.getWidth, img.getHeight)((x, y) => (img.getRGB(x, y) >> shift) & 0xff),
        s"doc $id ch $c")
    }
  }

  test("channelStats of an ImageIO-written PNG match its source pixels") {
    // A stock encoder picks its own row filters and deflate strategy; the
    // decoded statistics must still be those of the source pixels.
    val w = 23; val h = 17 // odd sizes, not multiples of anything
    def px(c: Int, x: Int, y: Int): Int = c match {
      case 0 => (x * 11 + y * 7) % 256
      case 1 => (x * 3 + y * 31) % 256
      case _ => (x * 29 + y * 13) % 256
    }
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, (px(0, x, y) << 16) | (px(1, x, y) << 8) | px(2, x, y))
    val bos = new ByteArrayOutputStream()
    assert(ImageIO.write(img, "png", bos))
    val dec = Multimodal.decodeImage(bos.toByteArray)
    assert(dec.isDefined, "ImageIO's PNG must decode")
    val stats = Multimodal.channelStats(dec.get, Seq(0, 1, 2))
    assert(stats.length == 3)
    stats.foreach { case (c, n, sum, wsum, mn, mx) =>
      assert((n, sum, wsum, mn, mx) == gridStats(w, h)(px(c, _, _)),
        s"channel $c stats must match the source pixels")
    }
  }

  test("decodeImage returns empty for empty, foreign and truncated PNGs") {
    val real = firstPayload(Multimodal.pngAssets(spark, TestSpark.sf))
    assert(Multimodal.decodeImage(real).nonEmpty)
    assert(Multimodal.decodeImage(Array[Byte]()).isEmpty)
    assert(Multimodal.decodeImage("not a png at all".getBytes).isEmpty)
    assert(Multimodal.decodeImage(real.take(real.length / 2)).isEmpty,
      "a truncated chunk stream must reject cleanly")
  }

  /** One PNG chunk: length, type, data, CRC32 over type + data. */
  private def pngChunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val crc = new java.util.zip.CRC32()
    crc.update(typ.getBytes("US-ASCII")); crc.update(data)
    ByteBuffer.allocate(12 + data.length).putInt(data.length)
      .put(typ.getBytes("US-ASCII")).put(data).putInt(crc.getValue.toInt).array()
  }
  private val PngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** Runs `body` on a daemon thread with a hard deadline: a regression is
    * non-termination, which a plain assert would report as a suite stall
    * rather than a named failure. */
  private def withDeadline[T](what: String)(body: => T): T = {
    val exec = java.util.concurrent.Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "multimodal-deadline"); t.setDaemon(true); t
    }
    try exec.submit(new java.util.concurrent.Callable[T] { def call(): T = body })
      .get(30, java.util.concurrent.TimeUnit.SECONDS)
    catch {
      case _: java.util.concurrent.TimeoutException => fail(s"$what HUNG (>30s)")
    } finally exec.shutdownNow()
  }

  test("decodeImage returns empty on a CRC-valid FDICT zlib stream, no hang") {
    // Inflater.inflate returns 0 with needsDictionary()=true (not
    // needsInput()) for a zlib header with FDICT set and valid FCHECK
    // (bytes 78 20): a zero-progress inflate loop spins forever. Every
    // chunk here is CRC-valid — the crafted-hostile payload class.
    val ihdr = ByteBuffer.allocate(13)
      .putInt(2).putInt(2) // 2x2, well under the decode budget
      .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      .array()
    // 78 20: CMF=0x78, FLG=0x20 (FDICT bit set; 0x7820 % 31 == 0), then
    // the 4-byte DICTID and filler the inflater will never consume.
    val idat = Array(0x78, 0x20, 0xde, 0xad, 0xbe, 0xef, 1, 2, 3, 4, 5, 6, 7, 8)
      .map(_.toByte)
    val png = PngSig ++ pngChunk("IHDR", ihdr) ++ pngChunk("IDAT", idat) ++
      pngChunk("IEND", Array.empty[Byte])
    assert(withDeadline("decodeImage on an FDICT stream")(Multimodal.decodeImage(png)).isEmpty,
      "an FDICT stream is undecodable without the dictionary")
  }

  // --- GIF ---

  test("mm_gif_pixels: gifAssets payloads decode identically under javax.imageio") {
    val gifs = payloads(Multimodal.gifAssets(spark, TestSpark.sf), 12)
    val got = SparkEntry.queries("mm_gif_pixels")(spark, TestSpark.sf)
      .filter(col("doc_id") < 12).collect()
    assert(got.length == 12)
    got.foreach { r =>
      val img = imageioRead(gifs(r.getLong(0)))
      assert(rowStats(r, 1) == // blue == red == gray
        gridStats(img.getWidth, img.getHeight)((x, y) => img.getRGB(x, y) & 0xff),
        s"doc ${r.getLong(0)}")
    }
  }

  test("channelStats of an ImageIO-written GIF match its getRGB gray") {
    // A foreign encoder's palette: the statistics read the palette red of
    // each index, which for a gray image is ImageIO's own getRGB value.
    val w = 128; val h = 96
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, ((x * 7 + y * 13 + (x * y) % 31) % 251) & 0xff)
    val bos = new ByteArrayOutputStream()
    assert(ImageIO.write(img, "gif", bos))
    val dec = Multimodal.decodeImage(bos.toByteArray)
    assert(dec.isDefined, "ImageIO's GIF must decode")
    // Both read the SAME encoded bytes — comparing against the pre-encode
    // gray raster would smuggle in the gray→sRGB colorspace conversion.
    val ref = imageioRead(bos.toByteArray)
    val (n, sum, wsum, mn, mx) = gridStats(w, h)((x, y) => ref.getRGB(x, y) & 0xff)
    assert(Multimodal.channelStats(dec.get, Seq(0)) == Seq((0, n, sum, wsum, mn, mx)))
  }

  /** Wraps [[Multimodal.lzwEncode]]'s stream of `px` in a one-row GIF and
    * decodes it with ImageIO: the palette indices back, in order. */
  private def lzwRoundTrip(px: Array[Int], w: Int): Seq[Int] = {
    val h = px.length / w
    val img = Multimodal.decodeImage(Multimodal.encodeGif(px, w, h))
    assert(img.isDefined, s"a ${w}x$h LZW stream must decode")
    img.get.getRaster.getSamples(0, 0, w, h, 0, new Array[Int](w * h)).toSeq
  }

  test("LZW round trip on streams that force growth, resets and KwKwK") {
    // KwKwK: the classic ababab... stream emits codes not yet in the
    // decoder's table.
    val kwk = Array.tabulate(64)(i => if (i % 2 == 0) 97 else 98)
    assert(lzwRoundTrip(kwk, 64) == kwk.toSeq)
    // Long varied stream: the dictionary passes 512, 1024 and 2048
    // entries and resets at 4096, so every code width is exercised.
    val big = Array.tabulate(20000)(i => (i * 31 + (i * i) % 97) % 256)
    assert(lzwRoundTrip(big, 200) == big.toSeq)
    // Constant run (maximal dictionary chains on one symbol).
    val run = Array.fill(4096)(7)
    assert(lzwRoundTrip(run, 64) == run.toSeq)
    // Every byte value, repeated: literals + pairs.
    val all = Array.tabulate(1024)(i => i % 256)
    assert(lzwRoundTrip(all, 32) == all.toSeq)
  }

  test("malformed GIFs are rejected, never mis-decoded") {
    val good = firstPayload(Multimodal.gifAssets(spark, TestSpark.sf))
    assert(Multimodal.decodeImage(good).nonEmpty)
    assert(Multimodal.decodeImage("NOTGIF".getBytes).isEmpty)
    assert(Multimodal.decodeImage(good.take(10)).isEmpty)
    val badMagic = good.clone(); badMagic(0) = 'X'.toByte
    assert(Multimodal.decodeImage(badMagic).isEmpty)
    // truncate mid-LZW-stream
    assert(Multimodal.decodeImage(good.dropRight(8)).isEmpty)
  }

  test("mm_gif_pixels matches the BMP-family text derivation on a sample") {
    val rows = SparkEntry.queries("mm_gif_pixels")(spark, TestSpark.sf)
      .limit(5).collect()
    val docs = graft.Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val id = r.getLong(0)
      val (w, h) = ((id % 4 + 6).toInt, (id % 3 + 4).toInt)
      val s = docs(id).padTo(w * h, ' ').take(w * h)
      assert(r.getLong(1) == w.toLong * h)
      assert(r.getLong(2) == s.map(_.toLong).sum)
      assert(r.getLong(3) == s.zipWithIndex.map { case (c, i) => i.toLong * c }.sum)
    }
  }

  // --- JPEG ---

  test("mm_jpeg_pixels: jpegAssets payloads decode identically under javax.imageio") {
    val jpegs = payloads(Multimodal.jpegAssets(spark, TestSpark.sf), 12)
    val got = SparkEntry.queries("mm_jpeg_pixels")(spark, TestSpark.sf)
      .filter(col("doc_id") < 12).collect()
    assert(got.nonEmpty, "expected stats rows for the first docs")
    got.foreach { r =>
      val img = imageioRead(jpegs(r.getLong(0)))
      // raw raster sample — getRGB would route the gray value through
      // the linear-gray→sRGB colorspace conversion and gamma-shift it
      assert(rowStats(r, 2) == gridStats(img.getWidth, img.getHeight)(
        img.getRaster.getSample(_, _, 0)), s"doc ${r.getLong(0)}")
    }
  }

  test("decodeImage returns empty for malformed JPEGs") {
    val good = firstPayload(Multimodal.jpegAssets(spark, TestSpark.sf))
    assert(Multimodal.decodeImage(good).isDefined)
    assert(Multimodal.decodeImage(good.slice(0, 2)).isEmpty, "SOI only")
    assert(Multimodal.decodeImage(good.slice(0, good.length / 2)).isEmpty,
      "truncated mid-header")
    // ImageIO fills a truncated scan's missing blocks in gray, with a warning
    assert(Multimodal.decodeImage(good.dropRight(8)).isEmpty, "truncated mid-scan")
    val noSoi = good.clone(); noSoi(1) = 0x00
    assert(Multimodal.decodeImage(noSoi).isEmpty, "bad SOI")
    // A DHT whose declared length is too short for even the 16 bits-bytes.
    val shortDht = Array(0xff, 0xd8, 0xff, 0xc4, 0x00, 0x05, 0x00, 0x01,
      0x02).map(_.toByte)
    assert(Multimodal.decodeImage(shortDht).isEmpty, "short DHT")
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
    val dec = Multimodal.decodeImage(Multimodal.encodeJpeg(text, 40, 8)) // 5 blocks across
    assert(dec.isDefined, "non-ASCII synthesis must decode")
    val raster = dec.get.getRaster
    assert(raster.getWidth == 40 && raster.getHeight == 8)
    for (k <- 0 until 5; y <- 0 until 8; x <- 0 until 8)
      assert(raster.getSample(k * 8 + x, y, 0) == expected(k),
        s"block $k pixel ($x,$y): ${raster.getSample(k * 8 + x, y, 0)} != ${expected(k)}")
  }

  // --- the decode budget ---

  test("decode budget: over-budget BMP, PNG, GIF and JPEG headers return empty") {
    def le32(b: Array[Byte], at: Int, v: Int): Unit =
      ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).putInt(at, v)
    def le16(b: Array[Byte], at: Int, v: Int): Unit =
      ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).putShort(at, v.toShort)
    // Each asset with its header's dimensions patched.
    def bmp(w: Int, h: Int): Array[Byte] = {
      val b = firstPayload(Multimodal.bmpAssets(spark, TestSpark.sf)).clone()
      le32(b, 2, Int.MaxValue) // file size
      le32(b, 18, w); le32(b, 22, h); b // BITMAPINFOHEADER width, height
    }
    def png(w: Int, h: Int): Array[Byte] = {
      val real = firstPayload(Multimodal.pngAssets(spark, TestSpark.sf))
      val ihdr = real.slice(16, 29) // IHDR data: width, height, depth, ...
      ByteBuffer.wrap(ihdr).putInt(0, w).putInt(4, h)
      PngSig ++ pngChunk("IHDR", ihdr) ++ real.drop(33)
    }
    def gif(w: Int, h: Int): Array[Byte] = {
      val b = firstPayload(Multimodal.gifAssets(spark, TestSpark.sf)).clone()
      le16(b, 6, w); le16(b, 8, h) // logical screen
      le16(b, 13 + 768 + 5, w); le16(b, 13 + 768 + 7, h); b // image descriptor
    }
    def jpeg(w: Int, h: Int): Array[Byte] = {
      val b = Multimodal.encodeJpeg("budget", 8, 8)
      ByteBuffer.wrap(b).putShort(2 + 69 + 5, h.toShort).putShort(2 + 69 + 7, w.toShort)
      b // SOF0 height, width after SOI + DQT
    }
    val huge = 65535
    def empty(fmt: String, b: Array[Byte]): Unit =
      assert(withDeadline(s"decodeImage on a $fmt budget header")(
        Multimodal.decodeImage(b)).isEmpty, s"$fmt must return empty")
    // Headers every reader's own checks accept. A 65535x65535 BMP or JPEG
    // would not test the budget: ImageIO's BMP reader refuses pixel data
    // larger than the file-size field and its JPEG reader dimensions over
    // 65500. Here only the budget stands between each header and a
    // multi-GiB raster.
    Seq("bmp" -> bmp(huge, 4096), "png" -> png(huge, huge), "gif" -> gif(huge, huge),
      "jpeg" -> jpeg(65500, 65500)).foreach { case (fmt, b) =>
      val in = ImageIO.createImageInputStream(new ByteArrayInputStream(b))
      val reader = ImageIO.getImageReaders(in).next()
      reader.setInput(in)
      val (w, h) = (reader.getWidth(0), reader.getHeight(0))
      reader.dispose()
      assert(w.toLong * h > (1L << 24), s"$fmt header: ${w}x$h")
      empty(s"$fmt ${w}x$h", b)
    }
    // The budget itself: a valid JPEG one block column over 2^24 pixels
    // returns empty, one exactly at it decodes.
    assert(Multimodal.decodeImage(Multimodal.encodeJpeg("x", 4104, 4096)).isEmpty,
      "4104x4096 is over the 2^24-pixel budget")
    assert(Multimodal.decodeImage(Multimodal.encodeJpeg("x", 4096, 4096))
      .exists(_.getWidth == 4096), "4096x4096 is exactly the budget")
  }

  // --- WAV ---

  /** Per-channel (sample rate, frames, sum, sq, peak) from a hand walk of
    * the RIFF container — an independent reader path from decodePcm. */
  private def riffStats(bytes: Array[Byte]): Seq[(Int, Long, Long, Long, Long)] = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    assert(new String(bytes.slice(0, 4), "ASCII") == "RIFF")
    val ch = bb.getShort(22).toInt; val sr = bb.getInt(24); val bits = bb.getShort(34).toInt
    var off = 36
    while (new String(bytes.slice(off, off + 4), "ASCII") != "data") {
      val size = bb.getInt(off + 4)
      off += 8 + size + (size & 1) // RIFF even-boundary pad
    }
    val bps = bits / 8
    val n = math.min(bb.getInt(off + 4), bytes.length - off - 8) / (ch * bps)
    (0 until ch).map { c =>
      val vals = (0 until n).map { i =>
        val p = off + 8 + (i * ch + c) * bps
        if (bits == 8) (bytes(p) & 0xff).toLong - 128L else bb.getShort(p).toLong
      }
      (sr, n.toLong, vals.sum, vals.map(v => v * v).sum, vals.map(math.abs).max)
    }
  }

  test("decodePcm of audioAssets matches a hand RIFF walk exactly") {
    // PCM integer decode has no lossy step, so any container-walk or
    // sample-extraction slip is a hard mismatch, not drift. The assets
    // carry an odd-size LIST chunk + pad byte a reader must skip.
    val wavs = payloads(Multimodal.audioAssets(spark, TestSpark.sf), 12)
    assert(wavs.nonEmpty)
    wavs.foreach { case (id, bytes) =>
      val ours = Multimodal.decodePcm(bytes)
      assert(ours.nonEmpty, s"doc $id: AudioSystem must read the asset")
      assert(ours.map { case (_, sr, n, sum, sq, peak) => (sr, n, sum, sq, peak) } ==
        riffStats(bytes), s"doc $id")
      assert(ours.map(_._1) == ours.indices, s"doc $id channel order")
    }
  }

  test("decodePcm reads AudioSystem-written WAVs (foreign writer, both depths)") {
    val rng = new scala.util.Random(9L)
    def wav(raw: Array[Byte], fmt: AudioFormat, frames: Int): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(new ByteArrayInputStream(raw), fmt, frames.toLong),
        AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    // 16-bit signed stereo LE
    val n16 = 500
    val s16 = Array.fill(2 * n16)((rng.nextInt(65536) - 32768).toShort)
    val b16 = ByteBuffer.allocate(s16.length * 2).order(ByteOrder.LITTLE_ENDIAN)
    s16.foreach(b16.putShort)
    val dec16 = Multimodal.decodePcm(wav(b16.array(), new AudioFormat(8000f, 16, 2, true, false), n16))
    assert(dec16.size == 2, "16-bit stereo must decode both channels")
    (0 until 2).foreach { c =>
      val vals = (0 until n16).map(i => s16(i * 2 + c).toLong)
      val (_, sr, n, sum, sq, peak) = dec16(c)
      assert(sr == 8000 && n == n16.toLong, s"ch $c header fields")
      assert(sum == vals.sum && sq == vals.map(v => v * v).sum &&
        peak == vals.map(math.abs).max, s"ch $c stats vs source samples")
    }
    // 8-bit unsigned mono (the JDK writes 8-bit WAVE as PCM_UNSIGNED,
    // decodePcm biases by -128 — the same convention)
    val n8 = 300
    val raw8 = Array.fill(n8)(rng.nextInt(256).toByte)
    val dec8 = Multimodal.decodePcm(wav(raw8, new AudioFormat(16000f, 8, 1, false, false), n8))
    assert(dec8.size == 1, "8-bit mono must decode")
    val vals8 = raw8.map(b => (b & 0xff).toLong - 128L)
    val (_, sr8, n8got, sum8, sq8, peak8) = dec8.head
    assert(sr8 == 16000 && n8got == n8.toLong)
    assert(sum8 == vals8.sum && sq8 == vals8.map(v => v * v).sum &&
      peak8 == vals8.map(math.abs).max, "8-bit stats vs source samples")
  }

  /** Writes a synthetic `documents` table and returns its dir. */
  private def docsDir(rows: Seq[(Long, String)]): String = {
    val dir = Files.createTempDirectory("graft_docs").toString
    rows.map { case (id, text) => (id, text, "en", "src0", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("multimodal features: real PCM decode of known-byte WAV payloads") {
    // doc 1 (odd): stereo 16-bit; doc 2 (even): mono 8-bit — both decode
    // paths, with every data byte 'A' (65) so the expected samples are
    // closed-form: 16-bit LE pair = 65 + 256*65 = 16705, 8-bit = 65-128.
    val d = docsDir(Seq(1L -> ("A" * 80), 2L -> ("A" * 80)))
    val rows = Multimodal.features(spark, d).collect()
    assert(rows.map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      Seq((1L, 0), (1L, 1), (2L, 0)), "stereo doc yields 2 channels, mono 1")
    val stereo = rows.filter(_.getLong(0) == 1L)
    stereo.foreach { r =>
      assert(r.getLong(2) == 16000L)            // (1 % 3 + 1) * 8000
      assert(r.getLong(3) == 20L)               // 80 bytes / (2ch * 2B)
      assert(r.getLong(4) == 20L * 16705L)      // sum_amp
      assert(r.getDouble(5) == 16705.0)         // mean
      assert(r.getDouble(6) == 16705.0)         // rms of a constant
      assert(r.getLong(7) == 16705L)            // peak
    }
    val mono = rows.find(_.getLong(0) == 2L).get
    assert(mono.getLong(2) == 24000L)           // (2 % 3 + 1) * 8000
    assert(mono.getLong(3) == 80L)              // 80 bytes / (1ch * 1B)
    assert(mono.getLong(4) == 80L * (65L - 128L))
    assert(mono.getDouble(5) == -63.0)
    assert(mono.getDouble(6) == 63.0)
    assert(mono.getLong(7) == 63L)
  }

  test("multimodal features: decoder drops partial trailing frames") {
    // doc 3 (odd, stereo 16-bit): 7 data bytes = 1 full 4-byte frame + 3
    // trailing bytes that a real reader must drop
    val d = docsDir(Seq(3L -> "ABCDEFG"))
    val rows = Multimodal.features(spark, d).collect()
    assert(rows.length == 2 && rows.forall(_.getLong(3) == 1L),
      "exactly one full frame per channel")
    // frame bytes: ch0 = 'A','B' -> 65 + 256*66 = 16961; ch1 = 'C','D'
    assert(rows.find(_.getInt(1) == 0).get.getLong(4) == 65L + 256L * 66L)
    assert(rows.find(_.getInt(1) == 1).get.getLong(4) == 67L + 256L * 68L)
  }

  // --- header parsing queries ---

  test("mm_image_dims: dims match the synthesis formulas; JPEG SOF offset varies") {
    // The parse must really walk the marker chain rather than
    // pattern-match one fixed offset.
    val rows = SparkEntry.queries("mm_image_dims")(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(0)
      val fmt = r.getString(1)
      assert(fmt == (if (id % 2 == 0) "png" else "jpeg"))
      assert(r.getInt(2) == (id % 4) * 160 + 320, s"width doc $id")
      assert(r.getInt(3) == (id % 3) * 120 + 240, s"height doc $id")
      if (fmt == "jpeg") {
        // dims_off = SOI(2) + APP0(2 + 16 + id%8) + COM(2 + 4 + id%5) + 7
        assert(r.getLong(4) == 2 + 2 + 16 + id % 8 + 2 + 4 + id % 5 + 7,
          s"sof offset doc $id")
      } else assert(r.getLong(4) == 16L)
    }
    // The marker scan must have produced ≥ 2 distinct offsets across the
    // variable-length APP0/COM segments — a fixed-offset cheat can't.
    val jpegOffs = rows.filter(_.getString(1) == "jpeg").map(_.getLong(4)).distinct
    assert(jpegOffs.length >= 2)
  }

  test("mm_image_dims: payload bytes carry a real PNG signature / JPEG SOI") {
    val imgs = Multimodal.imageAssets(spark, TestSpark.sf)
      .orderBy("doc_id").limit(4).collect()
    imgs.foreach { r =>
      val id = r.getLong(0)
      val bytes = r.getAs[Array[Byte]]("payload")
      if (id % 2 == 0) {
        assert(bytes.take(8).toSeq == PngSig.toSeq)
        // IHDR chunk type at bytes 12-15
        assert(new String(bytes.slice(12, 16), "ASCII") == "IHDR")
      } else {
        assert((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8)
      }
    }
  }

  test("mm_audio_meta: fields re-read by an independent java.nio LE decode") {
    val wavs = payloads(Multimodal.audioAssets(spark, TestSpark.sf), 8)
    val got = SparkEntry.queries("mm_audio_meta")(spark, TestSpark.sf)
      .filter(col("doc_id") < 8).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val id = r.getLong(0)
      val bytes = wavs(id)
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      assert(new String(bytes.slice(0, 4), "ASCII") == "RIFF")
      assert(new String(bytes.slice(8, 12), "ASCII") == "WAVE")
      assert(r.getInt(1) == 1) // valid
      assert(r.getLong(2) == (bb.getShort(22) & 0xffff).toLong, s"channels doc $id")
      assert(r.getLong(3) == bb.getInt(24).toLong, s"sample_rate doc $id")
      assert(r.getLong(4) == (bb.getShort(34) & 0xffff).toLong, s"bits doc $id")
      // Walk chunks independently to find 'data'.
      var off = 36
      while (new String(bytes.slice(off, off + 4), "ASCII") != "data") {
        val size = bb.getInt(off + 4)
        off += 8 + size + (size & 1) // RIFF even-boundary pad
      }
      assert(r.getLong(6) == off.toLong, s"data_off doc $id")
      assert(r.getLong(7) == bb.getInt(off + 4).toLong, s"data_len doc $id")
      assert(r.getInt(5) == 1 && r.getInt(8) == 1) // byte_rate_ok, len_ok
    }
  }
}
