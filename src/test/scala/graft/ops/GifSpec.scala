package graft.ops

import graft.{SparkEntry, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** GIF/LZW codec pins: interop BOTH directions against ImageIO's stock
  * GIF codec (the external referee for "these are real GIFs, not a
  * private dialect"), exhaustive LZW round trips including the streams
  * that force code-width growth, table resets, and the KwKwK case, and
  * strict rejection of malformed containers. */
class GifSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("our GIFs decode identically under ImageIO (writer emits real GIF89a)") {
    val payloads = Multimodal.gifAssets(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    assert(payloads.nonEmpty)
    payloads.foreach { case (id, bytes) =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(img != null, s"doc $id: ImageIO rejected our GIF")
      val w = img.getWidth; val h = img.getHeight
      var sum = 0L; var wsum = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val v = (img.getRGB(x, y) & 0xff).toLong // blue == red == gray
        sum += v; wsum += (y.toLong * w + x) * v
      }
      val ours = Multimodal.decodeGif(bytes)
      assert(ours.nonEmpty, s"doc $id: our decoder rejected our GIF")
      val (n, s2, ws2, _, _) = ours.head
      assert(n == w.toLong * h && s2 == sum && ws2 == wsum,
        s"doc $id: ImageIO and our decoder disagree")
    }
  }

  test("ImageIO-encoded GIFs decode under our LZW (width growth + table paths)") {
    // A large image with varied content: ImageIO's encoder compresses it
    // with genuine dictionary growth past 9-bit codes, so our decoder's
    // width bumps and KwKwK handling are exercised by an EXTERNAL
    // encoder, not just our own.
    val w = 128; val h = 96
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w) {
      val v = ((x * 7 + y * 13 + (x * y) % 31) % 251) & 0xff
      img.getRaster.setSample(x, y, 0, v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "gif", bos))
    val ours = Multimodal.decodeGif(bos.toByteArray)
    assert(ours.nonEmpty, "our decoder rejected ImageIO's GIF")
    val (n, sum, wsum, mn, mx) = ours.head
    // Both decoders read the SAME encoded bytes — ImageIO's read of its
    // own file is the referee (comparing against the pre-encode gray
    // raster would smuggle in its gray→sRGB colorspace conversion).
    val img2 = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bos.toByteArray))
    var esum = 0L; var ewsum = 0L
    var emn = Long.MaxValue; var emx = Long.MinValue
    for (y <- 0 until h; x <- 0 until w) {
      val v = (img2.getRGB(x, y) & 0xff).toLong
      esum += v; ewsum += (y.toLong * w + x) * v
      emn = math.min(emn, v); emx = math.max(emx, v)
    }
    assert(n == w.toLong * h)
    assert(sum == esum && wsum == ewsum && mn == emn && mx == emx,
      "pixel mismatch against ImageIO's decode of its own encode")
    // The stream genuinely forced dictionary growth: a 12k-pixel varied
    // image cannot LZW-compress without codes past the 9-bit range.
    assert(bos.size() > 0 && n == 12288L)
  }

  /** Encodes with [[Multimodal.lzwEncode]], strips its sub-block framing
    * (length byte, then that many data bytes, until a 0 length) and
    * decodes the bare code stream. */
  private def lzwRoundTrip(px: Array[Int]): Array[Int] = {
    val enc = Multimodal.lzwEncode(px, 8)
    val data = new java.io.ByteArrayOutputStream()
    var off = 0
    var bl = enc(off) & 0xff
    while (bl > 0) { data.write(enc, off + 1, bl); off += 1 + bl; bl = enc(off) & 0xff }
    Multimodal.lzwDecode(data.toByteArray, 8, px.length)
  }

  test("LZW round trip on streams that force growth, resets and KwKwK") {
    // KwKwK: the classic ababab... stream emits codes not yet in the
    // decoder's table.
    val kwk = Array.tabulate(64)(i => if (i % 2 == 0) 97 else 98)
    assert(lzwRoundTrip(kwk).toSeq == kwk.toSeq)
    // Long varied stream: the dictionary passes 512 and 1024 entries, so
    // 9→10→11-bit code widths are exercised on both sides.
    val big = Array.tabulate(20000)(i => (i * 31 + (i * i) % 97) % 256)
    assert(lzwRoundTrip(big).toSeq == big.toSeq)
    // Constant run (maximal dictionary chains on one symbol).
    val run = Array.fill(4096)(7)
    assert(lzwRoundTrip(run).toSeq == run.toSeq)
    // Every byte value, repeated: literals + pairs.
    val all = Array.tabulate(1024)(i => i % 256)
    assert(lzwRoundTrip(all).toSeq == all.toSeq)
  }

  test("malformed GIFs are rejected, never mis-decoded") {
    val good = Multimodal.gifAssets(spark, TestSpark.sf)
      .limit(1).collect().head.getAs[Array[Byte]](1)
    assert(Multimodal.decodeGif(good).nonEmpty)
    def corrupt(mut: Array[Byte] => Unit): Array[Byte] = {
      val b = good.clone(); mut(b); b
    }
    assert(Multimodal.decodeGif("NOTGIF".getBytes).isEmpty)
    assert(Multimodal.decodeGif(good.take(10)).isEmpty)
    // break the magic
    assert(Multimodal.decodeGif(corrupt(_(0) = 'X'.toByte)).isEmpty)
    // truncate mid-LZW-stream
    assert(Multimodal.decodeGif(good.dropRight(8)).isEmpty)
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
}
