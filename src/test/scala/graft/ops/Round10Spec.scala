package graft.ops

import graft.{SparkEntry, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 pins: the BMP pixel decode cross-checked against the JDK's
  * stock ImageIO reader, and the executed compaction's physical layout. */
class Round10Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("mm_pixel_stats: bmpAssets payloads decode identically under javax.imageio") {
    // The oracle proves our decoder against text-derived first principles;
    // this proves the WRITER against an independent, stock BMP reader —
    // together: real container, real decode, no private dialect.
    val payloads = Multimodal.bmpAssets(spark, TestSpark.sf)
      .orderBy("doc_id").limit(12).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload")).toMap
    val got = SparkEntry.queries("mm_pixel_stats")(spark, TestSpark.sf)
      .filter(col("doc_id") < 12).collect()
    assert(got.length == 36) // 12 docs x 3 channels
    got.foreach { r =>
      val id = r.getLong(0); val c = r.getInt(1)
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payloads(id)))
      assert(img != null, s"ImageIO must read doc $id as an image")
      val w = img.getWidth; val h = img.getHeight
      var sum = 0L; var wsum = 0L
      var mn = Long.MaxValue; var mx = Long.MinValue
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = img.getRGB(x, y)
        // BMP 24-bpp stores B,G,R in byte order; our channel c is the
        // c-th byte of the pixel, so c=0 → blue, 1 → green, 2 → red.
        val v = (c match {
          case 0 => rgb & 0xff
          case 1 => (rgb >> 8) & 0xff
          case _ => (rgb >> 16) & 0xff
        }).toLong
        sum += v; wsum += (y.toLong * w + x) * v
        if (v < mn) mn = v; if (v > mx) mx = v
      }
      assert(r.getLong(2) == w.toLong * h, s"n_px doc $id ch $c")
      assert(r.getLong(3) == sum, s"sum doc $id ch $c")
      assert(r.getLong(4) == wsum, s"weighted sum doc $id ch $c")
      assert(r.getLong(5) == mn && r.getLong(6) == mx, s"min/max doc $id ch $c")
    }
  }

  test("decodeBmp refuses malformed containers instead of looping or throwing") {
    // Not a BMP at all / truncated header / bad bpp / truncated pixel data.
    assert(Multimodal.decodeBmp(Array[Byte]()) == Seq.empty)
    assert(Multimodal.decodeBmp("hello".getBytes) == Seq.empty)
    val real = Multimodal.bmpAssets(spark, TestSpark.sf)
      .orderBy("doc_id").limit(1).collect()(0).getAs[Array[Byte]]("payload")
    assert(Multimodal.decodeBmp(real).nonEmpty)
    assert(Multimodal.decodeBmp(real.take(40)) == Seq.empty,
      "truncated header")
    assert(Multimodal.decodeBmp(real.take(real.length - 4)) == Seq.empty,
      "truncated pixel rows")
    val badBpp = real.clone(); badBpp(28) = 8
    assert(Multimodal.decodeBmp(badBpp) == Seq.empty, "non-24-bpp")
  }

  test("mm_png_pixels: pngAssets payloads decode identically under javax.imageio") {
    val payloads = Multimodal.pngAssets(spark, TestSpark.sf)
      .orderBy("doc_id").limit(12).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload")).toMap
    val got = SparkEntry.queries("mm_png_pixels")(spark, TestSpark.sf)
      .filter(col("doc_id") < 12).collect()
    assert(got.length == 36)
    got.foreach { r =>
      val id = r.getLong(0); val c = r.getInt(1)
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payloads(id)))
      assert(img != null, s"ImageIO must read doc $id as a PNG")
      val w = img.getWidth; val h = img.getHeight
      var sum = 0L; var wsum = 0L
      var mn = Long.MaxValue; var mx = Long.MinValue
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = img.getRGB(x, y)
        // PNG RGB: channel 0 = red byte first in the stream.
        val v = (c match {
          case 0 => (rgb >> 16) & 0xff
          case 1 => (rgb >> 8) & 0xff
          case _ => rgb & 0xff
        }).toLong
        sum += v; wsum += (y.toLong * w + x) * v
        if (v < mn) mn = v; if (v > mx) mx = v
      }
      assert(r.getLong(2) == w.toLong * h, s"n_px doc $id ch $c")
      assert(r.getLong(3) == sum, s"sum doc $id ch $c")
      assert(r.getLong(4) == wsum, s"weighted sum doc $id ch $c")
      assert(r.getLong(5) == mn && r.getLong(6) == mx, s"min/max doc $id ch $c")
    }
  }

  test("decodePng reads PNGs written by ImageIO (foreign filter choices)") {
    // The inverse interop direction: a stock encoder picks its own row
    // filters and deflate strategy; our decoder must still recover the
    // exact pixels. Build a gradient-ish RGB image, round-trip via
    // ImageIO PNG, decode with decodePng, compare exact stats.
    val w = 23; val h = 17 // odd sizes, not multiples of anything
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val r = (x * 11 + y * 7) % 256
      val g = (x * 3 + y * 31) % 256
      val b = (x * 29 + y * 13) % 256
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val stats = Multimodal.decodePng(bos.toByteArray)
    assert(stats.length == 3, "ImageIO PNG must decode as RGB8")
    stats.foreach { case (c, n, sum, wsum, mn, mx) =>
      assert(n == w.toLong * h)
      var esum = 0L; var ewsum = 0L
      var emn = Long.MaxValue; var emx = Long.MinValue
      for (y <- 0 until h; x <- 0 until w) {
        val v = (c match {
          case 0 => (x * 11 + y * 7) % 256
          case 1 => (x * 3 + y * 31) % 256
          case _ => (x * 29 + y * 13) % 256
        }).toLong
        esum += v; ewsum += (y.toLong * w + x) * v
        if (v < emn) emn = v; if (v > emx) emx = v
      }
      assert(sum == esum && wsum == ewsum && mn == emn && mx == emx,
        s"channel $c stats must match the source pixels")
    }
  }

  test("decodePng rejects malformed containers: bad CRC, truncation, wrong type") {
    val real = Multimodal.pngAssets(spark, TestSpark.sf)
      .orderBy("doc_id").limit(1).collect()(0).getAs[Array[Byte]]("payload")
    assert(Multimodal.decodePng(real).nonEmpty)
    assert(Multimodal.decodePng(Array[Byte]()) == Seq.empty)
    assert(Multimodal.decodePng("not a png at all".getBytes) == Seq.empty)
    val badCrc = real.clone()
    badCrc(20) = (badCrc(20) ^ 0x01).toByte // flip a bit inside IHDR data
    assert(Multimodal.decodePng(badCrc) == Seq.empty,
      "a CRC mismatch must reject the file")
    assert(Multimodal.decodePng(real.take(real.length / 2)) == Seq.empty,
      "a truncated chunk stream must reject cleanly")
  }

  test("decodePng rejects a CRC-valid FDICT zlib stream instead of hanging") {
    // Inflater.inflate returns 0 with needsDictionary()=true (not
    // needsInput()) for a zlib header with FDICT set and valid FCHECK
    // (bytes 78 20) — a naive "k==0 && needsInput" truncation guard spins
    // forever. Every chunk here is CRC-valid, so the container gate that
    // stops random fuzz from reaching the inflate loop does NOT fire:
    // this is exactly the crafted-hostile payload class. The decoder must
    // return empty, not hang the task.
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + data.length)
      bb.putInt(data.length)
      bb.put(typ.getBytes("US-ASCII"))
      bb.put(data)
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes("US-ASCII")); crc.update(data)
      bb.putInt(crc.getValue.toInt)
      bb.array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(2).putInt(2) // 2x2, well under the decode budget
      .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      .array()
    // 78 20: CMF=0x78, FLG=0x20 (FDICT bit set; 0x7820 % 31 == 0), then
    // the 4-byte DICTID and filler the inflater will never consume.
    val idat = Array(0x78, 0x20, 0xde, 0xad, 0xbe, 0xef, 1, 2, 3, 4, 5, 6, 7, 8)
      .map(_.toByte)
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    val png = sig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", idat) ++
      chunk("IEND", Array.empty[Byte])
    // Run on a daemon thread with a hard deadline: a regression here is
    // non-termination, which a plain assert would report as a suite stall
    // rather than a named failure (and thread interrupts don't stop a
    // zero-progress inflate loop).
    val exec = java.util.concurrent.Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "png-fdict-probe"); t.setDaemon(true); t
    }
    val fut = exec.submit(new java.util.concurrent.Callable[Int] {
      def call(): Int = Multimodal.decodePng(png).size
    })
    try {
      val n = fut.get(30, java.util.concurrent.TimeUnit.SECONDS)
      assert(n == 0, "an FDICT stream is undecodable without the dictionary")
    } catch {
      case _: java.util.concurrent.TimeoutException =>
        fail("decodePng HUNG (>30s) on a CRC-valid FDICT zlib stream")
    } finally exec.shutdownNow()
  }

  test("layout_merge_exec: copy-on-write prunes — untouched buckets never rewrite") {
    val rows = SparkEntry.queries("layout_merge_exec")(spark, TestSpark.sf)
      .collect()
    assert(rows.nonEmpty)
    val total = rows.head.getLong(3)
    val rewritten = rows.head.getLong(4)
    assert(rewritten > 0, "the CDC batch must touch some buckets")
    // Expected bucket arithmetic recomputed from the fixture: the change
    // rules touch base buckets holding a %448/%1280 key plus fresh insert
    // buckets; pruning must leave every other base bucket alone.
    val o = graft.Tables.orders(spark, TestSpark.sf)
      .filter(col("o_orderkey") < 65536) // the bounded maintenance unit
      .select(col("o_orderkey").as("k"))
    val baseBuckets = o.select(expr("k div 256").as("fb")).distinct().count()
    val touchedBase = o.filter(col("k") % 1280 === 0 || col("k") % 448 === 0)
      .select(expr("k div 256").as("fb")).distinct().count()
    val insertBuckets = o.filter(col("k") % 640 === 0)
      .select(expr("(k + 16777216) div 256").as("fb")).distinct().count()
    assert(total == baseBuckets, "total must count the real base files")
    assert(rewritten <= touchedBase + insertBuckets,
      "rewritten files must not exceed the planned touched set")
    assert(touchedBase < baseBuckets || baseBuckets <= 1,
      "fixture sanity: pruning must have something to skip")
  }

  test("layout_scd2_exec: versioning arithmetic and pruning hold on the fixture") {
    val rows = SparkEntry.queries("layout_scd2_exec")(spark, TestSpark.sf)
      .collect()
    assert(rows.nonEmpty)
    val total = rows.head.getLong(4)
    val rewritten = rows.head.getLong(5)
    val o = graft.Tables.customer(spark, TestSpark.sf)
      .filter(col("c_custkey") < 8192) // the bounded maintenance unit
      .select(col("c_custkey").as("k"))
    val baseBuckets = o.select(expr("k div 64").as("fb")).distinct().count()
    val touchedBuckets = o.filter(col("k") % 96 === 0)
      .select(expr("k div 64").as("fb")).distinct().count()
    val nUpdated = o.filter(col("k") % 96 === 0).count()
    assert(total == baseBuckets, "total must count the real base files")
    assert(rewritten == touchedBuckets,
      "exactly the touched buckets must rewrite (closing keeps rows, so " +
        "none can vanish)")
    assert(touchedBuckets < baseBuckets, "pruning must have skipped buckets")
    // SCD2 row algebra: every updated key contributes one closed + one
    // opened version; current rows = all keys, closed rows = updates.
    val nKeys = o.count()
    val current = rows.filter(_.getInt(0) == 1).map(_.getLong(2)).sum
    val closed = rows.filter(_.getInt(0) == 0).map(_.getLong(2)).sum
    assert(current == nKeys, "one current version per key after the merge")
    assert(closed == nUpdated, "one closed version per updated key")
  }

  test("layout_time_travel: snapshots see exactly their commit's files") {
    val rows = SparkEntry.queries("layout_time_travel")(spark, TestSpark.sf)
      .orderBy("version").collect()
    assert(rows.length == 2)
    val (v0, v1) = (rows(0), rows(1))
    // v0 must still show the pre-delete table even though commit 1's data
    // files exist on disk when the snapshot is read — log replay, not
    // directory listing, decides visibility.
    val nOrders = graft.Tables.orders(spark, TestSpark.sf)
      .filter(col("o_orderkey") < 65536).count() // the bounded unit
    assert(v0.getLong(1) == nOrders, "snapshot 0 must be the full base table")
    assert(v1.getLong(1) < v0.getLong(1), "commit 1 deleted rows")
    assert(v1.getLong(3) < v0.getLong(3),
      "commit 1 pair-packed touched buckets, so live files must shrink")
  }

  test("layout_compaction_exec: compacted lake has fewer files, same rows") {
    val rows = SparkEntry.queries("layout_compaction_exec")(spark, TestSpark.sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val lang = r.getString(0)
      assert(r.getLong(1) > r.getLong(4),
        s"$lang: compaction must reduce file count " +
          s"(${r.getLong(1)} -> ${r.getLong(4)})")
      assert(r.getLong(2) == r.getLong(5), s"$lang: row count must survive")
      assert(r.getLong(3) == r.getLong(6), s"$lang: content checksum must survive")
    }
  }
}
