package graft.ops

import java.awt.image.{BufferedImage, IndexColorModel}
import javax.imageio.ImageIO
import javax.imageio.stream.MemoryCacheImageInputStream
import javax.sound.sampled.{AudioFormat, AudioSystem}

import scala.util.control.NonFatal

import graft.{Query, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns (SURVEY.md §2.11): media payloads as opaque `binary`
  * columns + typed metadata structs, with decode / feature-extraction as
  * per-partition batch processing.
  *
  * The fixtures carry no real compressed media, so payloads are
  * synthesized deterministically from document text — but inside REAL
  * containers written here: RIFF/WAVE PCM ([[audioAssets]]), BMP, PNG,
  * GIF and baseline JPEG. The decode step is REAL and is the JDK's own:
  * [[decodePcm]] runs `javax.sound.sampled` and [[decodeImage]] runs
  * `javax.imageio`, inside the `mapPartitions` batch contract a codec UDF
  * plugs into. Each decode query's oracle re-derives the decoded samples
  * from the source text without parsing the container. Header parsing
  * and format routing ([[imageDims]], [[audioMeta]], [[sniffRoute]]) run
  * as column expressions over the payload bytes.
  *
  * Scale posture: assets are map-only; feature extraction is
  * embarrassingly parallel per partition with zero shuffle; downstream
  * similarity over features reuses the LlmSimilarity operators. */
object Multimodal extends QueryModule {

  /** Per-record decode budget (pixels). A container header can DEMAND an
    * arbitrary allocation before one data byte is validated — a corrupt
    * or hostile 100-byte payload declaring 65535×65535 must not OOM (or
    * NegativeArraySizeException via w*h Int overflow) an executor task.
    * [[decodeImage]] reads w·h from the header first, in Long space, and
    * returns empty above it — the same contract as any other
    * malformation. 2^24 px = 64 MiB of Int, far above any fixture and a
    * sane per-record bound for a fleet codec. */
  private val MaxDecodePixels = 1L << 24

  /** Synthesized asset table: binary payload + metadata struct. */
  def assets(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      struct(
        when(col("doc_id") % 3 === 0, "image/png")
          .when(col("doc_id") % 3 === 1, "audio/wav")
          .otherwise("video/mp4").as("media_type"),
        (pmod(col("doc_id"), lit(4)) * 160 + 320).cast("int").as("width"),
        (pmod(col("doc_id"), lit(3)) * 120 + 240).cast("int").as("height"))
        .as("meta"))

  /** Oracle-gated metadata/bytes battery over the binary column. */
  def binaryMeta(s: SparkSession, d: String): DataFrame =
    assets(s, d).select(
      col("doc_id"),
      octet_length(col("payload")).as("n_bytes"),
      md5(col("payload")).as("payload_md5"),
      ceil(octet_length(col("payload")) / lit(64.0)).cast("long").as("n_blocks"),
      md5(substring(col("payload"), 1, 64)).as("head_block_md5"),
      col("meta.media_type").as("media_type"),
      col("meta.width").as("width"),
      col("meta.height").as("height"))
      .orderBy(col("doc_id"))

  /** PCM WAV decode with the JDK's `javax.sound.sampled.AudioSystem`: it
    * walks the RIFF container to the fmt and data chunks; the interleaved
    * frames are then read here — 8-bit PCM is unsigned-biased
    * (byte − 128), 16-bit PCM is signed little-endian — into one
    * amplitude-statistics row per channel: (channel, sample rate, frame
    * count, exact integer sample sum, sum of squares, peak). Truncated
    * trailing bytes that don't fill a whole frame are dropped. Returns Nil
    * for anything that is not an 8- or 16-bit PCM WAV, malformed ones
    * included.
    *
    * All accumulation is integer (Long), so mean = sum/n and
    * rms = sqrt(sq/n) divide identical longs in any engine — this is
    * what lets a byte-level codec be ORACLE-GATED: DuckDB re-derives
    * the same samples character-arithmetically from the source text
    * (the payload's data chunk), never seeing the container. */
  private[ops] def decodePcm(bytes: Array[Byte]): Seq[(Int, Int, Long, Long, Long, Long)] =
    try {
      val in = AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = in.getFormat
        val ch = fmt.getChannels
        val bits = fmt.getSampleSizeInBits
        val pcm = (bits == 8 && fmt.getEncoding == AudioFormat.Encoding.PCM_UNSIGNED) ||
          (bits == 16 && fmt.getEncoding == AudioFormat.Encoding.PCM_SIGNED && !fmt.isBigEndian)
        if (ch <= 0 || !pcm) Seq.empty
        else {
          val bps = bits / 8
          val frameBytes = ch * bps
          // a whole number of frames: AudioInputStream reads whole frames only
          val data = new Array[Byte](bytes.length / frameBytes * frameBytes)
          val n = in.readNBytes(data, 0, data.length) / frameBytes
          (0 until ch).map { c =>
            var sum = 0L; var sq = 0L; var peak = 0L; var i = 0
            while (i < n) {
              val p = i * frameBytes + c * bps
              val v: Long =
                if (bits == 8) (data(p) & 0xff).toLong - 128L
                else ((data(p + 1) << 8) | (data(p) & 0xff)).toShort.toLong
              sum += v; sq += v * v
              val a = math.abs(v); if (a > peak) peak = a
              i += 1
            }
            (c, fmt.getSampleRate.toInt, n.toLong, sum, sq, peak)
          }
        }
      } finally in.close()
    } catch { case NonFatal(_) => Seq.empty }

  /** Feature extraction over binary media — a GENUINE decode, not a
    * byte-block stand-in: every [[audioAssets]] payload (a complete
    * RIFF/WAVE PCM file) runs through [[decodePcm]] inside
    * `mapPartitions` (iterate rows in batches, emit fixed-width rows —
    * the exact contract an Arrow-batched codec UDF plugs into), producing
    * per-channel amplitude features: n_frames, integer sample sum, mean,
    * RMS, peak. The oracle recomputes the expected samples from the
    * source text characters (8-bit: ord − 128; 16-bit: LE char pairs,
    * interleaved by channel) — it never parses the container, so a pass
    * proves the writer's container and the frame de-interleave against
    * byte-level first principles. Map-only, zero shuffle; the only
    * non-codegen region is the codec itself, which is irreducibly
    * imperative. */
  def features(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    audioAssets(s, d)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // batch the iterator like an Arrow-batched UDF would
        rows.grouped(64).flatMap(_.iterator.flatMap { case (id, bytes) =>
          decodePcm(bytes).map { case (c, sr, n, sum, sq, peak) =>
            (id, c, sr, n, sum, sq, peak)
          }
        })
      }
      .toDF("doc_id", "channel", "sample_rate", "n_frames",
        "sum_amp", "sum_sq", "peak")
      .filter(col("n_frames") > 0)
      .select(col("doc_id"), col("channel"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("n_frames"), col("sum_amp"),
        (col("sum_amp").cast("double") / col("n_frames").cast("double"))
          .as("mean_amp"),
        sqrt(col("sum_sq").cast("double") / col("n_frames").cast("double"))
          .as("rms"),
        col("peak"))
      .orderBy(col("doc_id"), col("channel"))
  }

  /** Frame sampling (the video/audio analog of image decode): every 128th
    * byte offset yields one 32-byte "frame" slice — doc → (frame_idx,
    * offset, frame hash, length) rows. A real pipeline replaces the slice
    * with a codec's frame grab at the same plumbing points: per-row frame
    * enumeration (explode of an offset sequence, no shuffle) and
    * content-addressed frame output. Fully oracle-checkable because the
    * slices are deterministic bytes. */
  def frameSample(s: SparkSession, d: String): DataFrame = {
    val stride = 128
    val frame = 32
    assets(s, d)
      .select(col("doc_id"), col("payload"),
        octet_length(col("payload")).as("n_bytes"))
      .select(col("doc_id"), col("payload"),
        explode(sequence(lit(0),
          floor((col("n_bytes") - 1) / lit(stride.toDouble)).cast("int")))
          .as("frame_idx"))
      .select(col("doc_id"),
        col("frame_idx").cast("long").as("frame_idx"),
        (col("frame_idx") * stride).cast("long").as("offset"),
        expr(s"md5(substring(payload, frame_idx * $stride + 1, $frame))")
          .as("frame_md5"),
        expr(s"octet_length(substring(payload, frame_idx * $stride + 1, $frame))")
          .cast("long").as("frame_len"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Resize (the image-thumbnail analog over opaque bytes): downsample
    * every payload to a fixed 16-byte "thumbnail" by strided byte picks —
    * per-doc stride = ⌊n/16⌋, so any payload size maps to the same output
    * resolution, which is precisely the resize contract. A codec would
    * replace the byte pick with pixel interpolation at the same plumbing
    * point. Content-addressed output (thumb md5) keeps it oracle-checkable;
    * map-only, no shuffle. */
  def resize(s: SparkSession, d: String): DataFrame = {
    val k = 16
    val picks = (0 until k).map(i => expr(s"substring(payload, $i * stride + 1, 1)"))
    assets(s, d)
      .select(col("doc_id"), col("payload"),
        octet_length(col("payload")).as("n_bytes"))
      .withColumn("stride",
        greatest(lit(1), floor(col("n_bytes") / k)).cast("int"))
      .select(col("doc_id"), col("n_bytes"),
        col("stride").cast("long").as("scale_stride"),
        concat(picks: _*).as("thumb"))
      .select(col("doc_id"), col("n_bytes"), col("scale_stride"),
        octet_length(col("thumb")).cast("long").as("thumb_bytes"),
        md5(col("thumb")).as("thumb_md5"))
      .orderBy(col("doc_id"))
  }

  /** Image asset table with REAL container headers: each payload starts
    * with a well-formed PNG signature+IHDR chunk (even doc_id) or a JPEG
    * SOI → APP0 → COM → SOF0 marker sequence (odd doc_id), followed by the
    * document bytes as the "compressed stream". Dimensions and the
    * variable APP0/COM segment lengths derive from doc_id, so the header
    * layout differs per row — a parser cannot cheat with one global
    * offset for JPEG. */
  def imageAssets(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        (pmod(col("doc_id"), lit(4)) * 160 + 320).cast("int").as("w"),
        (pmod(col("doc_id"), lit(3)) * 120 + 240).cast("int").as("h"),
        (pmod(col("doc_id"), lit(8)) + 16).cast("int").as("app0_len"),
        (pmod(col("doc_id"), lit(5)) + 4).cast("int").as("com_len"))
      .withColumn("header_hex",
        when(col("doc_id") % 2 === 0,
          // PNG: 8-byte signature, IHDR length (13), "IHDR", w/h as
          // 4-byte big-endian, bit depth 8 / color type 6 / 0 / 0 / 0.
          concat(lit("89504E470D0A1A0A0000000D49484452"),
            expr("lpad(hex(w), 8, '0')"), expr("lpad(hex(h), 8, '0')"),
            lit("0806000000")))
          .otherwise(
            // JPEG: SOI, APP0(var len, zero body), COM(var len), SOF0
            // (len 17, precision 8, height, width, 3 components).
            concat(
              lit("FFD8FFE0"), expr("lpad(hex(app0_len), 4, '0')"),
              expr("repeat('00', app0_len - 2)"),
              lit("FFFE"), expr("lpad(hex(com_len), 4, '0')"),
              expr("repeat('00', com_len - 2)"),
              lit("FFC0001108"), expr("lpad(hex(h), 4, '0')"),
              expr("lpad(hex(w), 4, '0')"), lit("03014100021101031101"))))
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0, "png").otherwise("jpeg").as("format"),
        concat(unhex(col("header_hex")), col("text").cast("binary"))
          .as("payload"))

  /** Parse image width/height FROM THE BYTES — no formula shortcut on the
    * query side. PNG reads the IHDR fixed offsets (the PNG spec guarantees
    * IHDR is the first chunk: width at bytes 16-19, height 20-23). JPEG
    * needs a real marker scan: segments between SOI and SOF0 carry 2-byte
    * big-endian lengths, so the parser walks marker→skip-length until it
    * hits FFC0/FFC2 — expressed as a bounded `aggregate` fold over the
    * hex of the payload HEAD (first 256 bytes; headers live there, so a
    * 100 TB scan never hexes whole payloads). Map-only, zero shuffle; the
    * oracle reconstructs the header hex independently in SQL and slices at
    * the closed-form offsets it knows from the synthesis formulas, so the
    * scan is verified against offsets it never saw. */
  def imageDims(s: SparkSession, d: String): DataFrame =
    imageAssets(s, d)
      .withColumn("hx", hex(expr("substring(payload, 1, 256)")))
      .withColumn("sof", expr(
        """CASE WHEN format = 'jpeg' THEN
          |  aggregate(sequence(1, 6),
          |    named_struct('off', 2, 'sof', -1),
          |    (acc, i) -> CASE
          |      WHEN acc.sof >= 0 THEN acc
          |      WHEN substring(hx, acc.off * 2 + 1, 4) IN ('FFC0', 'FFC2')
          |        THEN named_struct('off', acc.off, 'sof', acc.off)
          |      ELSE named_struct('off', acc.off + 2 +
          |          CAST(conv(substring(hx, acc.off * 2 + 5, 4), 16, 10)
          |            AS INT),
          |        'sof', -1) END).sof
          |ELSE -1 END""".stripMargin))
      .select(col("doc_id"), col("format"),
        expr(
          """CAST(CASE WHEN format = 'png'
            |  THEN conv(substring(hx, 33, 8), 16, 10)
            |  ELSE conv(substring(hx, sof * 2 + 15, 4), 16, 10) END AS INT)
            |""".stripMargin).as("width"),
        expr(
          """CAST(CASE WHEN format = 'png'
            |  THEN conv(substring(hx, 41, 8), 16, 10)
            |  ELSE conv(substring(hx, sof * 2 + 11, 4), 16, 10) END AS INT)
            |""".stripMargin).as("height"),
        expr("CAST(CASE WHEN format = 'png' THEN 16 ELSE sof + 7 END AS BIGINT)")
          .as("dims_off"))
      .orderBy(col("doc_id"))

  /** Little-endian byte→hex swap: value column rendered as `bytes`-wide
    * LE hex (the RIFF/WAV integer encoding). */
  private def leHex(c: Column, bytes: Int): Column = {
    val h = lpad(hex(c), bytes * 2, "0")
    concat((bytes - 1 to 0 by -1).map(b => substring(h, b * 2 + 1, 2)): _*)
  }

  /** Audio asset table with REAL RIFF/WAVE containers: canonical 12-byte
    * RIFF header, PCM fmt chunk, a variable-length LIST chunk (as real
    * encoders emit — odd-sized bodies padded to the even byte boundary
    * the RIFF spec requires, declared size left odd) and the data chunk
    * holding the document bytes.
    * Channels / sample rate / bit depth derive from doc_id. All multi-byte
    * integers are little-endian — the opposite byte order of the PNG/JPEG
    * assets, so the parser family covers both. */
  def audioAssets(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        (pmod(col("doc_id"), lit(2)) + 1).cast("int").as("ch"),
        ((pmod(col("doc_id"), lit(3)) + 1) * 8000).cast("int").as("sr"),
        ((pmod(col("doc_id"), lit(2)) + 1) * 8).cast("int").as("bits"),
        (pmod(col("doc_id"), lit(5)) + 4).cast("int").as("list_body"),
        octet_length(col("text").cast("binary")).as("data_len"))
      .withColumn("br", (col("sr") * col("ch") * col("bits") / 8).cast("int"))
      .withColumn("ba", (col("ch") * col("bits") / 8).cast("int"))
      // RIFF pads odd-sized chunk bodies to even boundaries (the declared
      // size stays odd; the pad byte sits outside it but inside riff_size)
      .withColumn("pad", pmod(col("list_body"), lit(2)).cast("int"))
      .withColumn("riff_size",
        (lit(4 + 24) + 8 + col("list_body") + col("pad") + 8 +
          col("data_len")).cast("int"))
      .withColumn("header_hex", concat(
        lit("52494646"), leHex(col("riff_size"), 4),           // RIFF....
        lit("57415645"), lit("666D7420"), lit("10000000"),     // WAVEfmt .
        lit("0100"), leHex(col("ch"), 2),                      // PCM, channels
        leHex(col("sr"), 4), leHex(col("br"), 4),              // rates
        leHex(col("ba"), 2), leHex(col("bits"), 2),            // align, depth
        lit("4C495354"), leHex(col("list_body"), 4),           // LIST chunk
        expr("repeat('00', list_body + pad)"),
        lit("64617461"), leHex(col("data_len"), 4)))           // data chunk
      .select(col("doc_id"),
        concat(unhex(col("header_hex")), col("text").cast("binary"))
          .as("payload"))

  /** Parse WAV audio metadata FROM THE BYTES: fixed-offset little-endian
    * fmt fields (the spec pins fmt directly after the RIFF header), then a
    * bounded chunk walk — read fourcc + LE32 size, skip — to locate the
    * `data` chunk past the variable-length LIST chunk, exactly as a real
    * WAV reader must. Map-only; only the payload head is hexed. Emits the
    * decoded rate/depth/layout plus two internal-consistency proofs
    * (byte-rate algebra, data size vs actual payload bytes) and the clip
    * duration. Oracle computes the expected values closed-form from the
    * synthesis formulas — the parser never sees those formulas, only
    * bytes; MultimodalSpec re-reads the same fields with an independent
    * java.nio LITTLE_ENDIAN ByteBuffer decode. */
  def audioMeta(s: SparkSession, d: String): DataFrame = {
    def le(at: String, bytes: Int): String = {
      val parts = (bytes - 1 to 0 by -1)
        .map(b => s"substring(hx, ($at) * 2 + ${2 * b + 1}, 2)")
      s"CAST(conv(concat(${parts.mkString(", ")}), 16, 10) AS BIGINT)"
    }
    audioAssets(s, d)
      .withColumn("hx", hex(expr("substring(payload, 1, 128)")))
      .withColumn("valid",
        (expr("substring(hx, 1, 8)") === "52494646" &&
          expr("substring(hx, 17, 8)") === "57415645").cast("int"))
      .withColumn("channels", expr(le("22", 2)))
      .withColumn("sample_rate", expr(le("24", 4)))
      .withColumn("byte_rate", expr(le("28", 4)))
      .withColumn("bits_per_sample", expr(le("34", 2)))
      .withColumn("data_off", expr(
        s"""aggregate(sequence(1, 4),
           |  named_struct('off', CAST(36 AS BIGINT), 'at', CAST(-1 AS BIGINT)),
           |  (acc, i) -> CASE
           |    WHEN acc.at >= 0 THEN acc
           |    WHEN substring(hx, acc.off * 2 + 1, 8) = '64617461'
           |      THEN named_struct('off', acc.off, 'at', acc.off)
           |    ELSE named_struct('off',
           |      acc.off + 8 + ${le("acc.off + 4", 4)}
           |        + ${le("acc.off + 4", 4)} % 2, 'at', CAST(-1 AS BIGINT))
           |    END).at""".stripMargin))
      .withColumn("data_len", expr(le("data_off + 4", 4)))
      .select(col("doc_id"), col("valid"), col("channels"),
        col("sample_rate"), col("bits_per_sample"),
        when(col("byte_rate") ===
          col("sample_rate") * col("channels") * col("bits_per_sample") / 8,
          1).otherwise(0).as("byte_rate_ok"),
        col("data_off"), col("data_len"),
        when(col("data_len") ===
          octet_length(col("payload")) - (col("data_off") + 8),
          1).otherwise(0).as("len_ok"),
        expr("data_len * 1000 div byte_rate").as("duration_ms"))
      .orderBy(col("doc_id"))
  }

  /** Image asset table with REAL uncompressed BMP files — the image twin
    * of [[audioAssets]]: 14-byte 'BM' file header, 40-byte
    * BITMAPINFOHEADER (all little-endian), then 24-bpp pixel rows stored
    * BOTTOM-UP with each row zero-padded to a 4-byte boundary, exactly as
    * the format requires. Pixel bytes derive from the document text in
    * logical row-major order (pixel (x,y) channel c = text char at
    * (y·w + x)·3 + c, space-padded/truncated to w·h·3), so a decoder must
    * undo BOTH the vertical flip and the row padding to recover them —
    * which is what makes the decode provable. Dimensions derive from
    * doc_id (w = 4 + id%3, h = 3 + id%2). Entirely expression-level hex
    * assembly (codegen, map-only), same as the WAV writer. */
  def bmpAssets(s: SparkSession, d: String): DataFrame = {
    val w = (pmod(col("doc_id"), lit(3)) + 4).cast("int")
    val h = (pmod(col("doc_id"), lit(2)) + 3).cast("int")
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"), w.as("w"), h.as("h"))
      .withColumn("row_bytes", (col("w") * 3).cast("int"))
      .withColumn("pad", ((lit(4) - pmod(col("row_bytes"), lit(4))) % 4).cast("int"))
      .withColumn("stride", (col("row_bytes") + col("pad")).cast("int"))
      .withColumn("img_size", (col("stride") * col("h")).cast("int"))
      .withColumn("file_size", (lit(54) + col("img_size")).cast("int"))
      // logical pixel array as hex (ASCII text → 1 byte per char)
      .withColumn("ph",
        hex(expr("cast(rpad(text, w * h * 3, ' ') as binary)")))
      // bottom-up row assembly: file row fr holds logical row h-1-fr,
      // followed by the per-row zero pad
      .withColumn("rows_hex", array_join(expr(
        """transform(sequence(0, h - 1), fr ->
          |  concat(substring(ph, (h - 1 - fr) * row_bytes * 2 + 1,
          |    row_bytes * 2), repeat('00', pad)))""".stripMargin), ""))
      .withColumn("header_hex", concat(
        lit("424D"), leHex(col("file_size"), 4),              // 'BM', size
        lit("00000000"), lit("36000000"),                     // reserved, data @54
        lit("28000000"), leHex(col("w"), 4), leHex(col("h"), 4), // info hdr
        lit("0100"), lit("1800"),                             // planes, 24 bpp
        lit("00000000"), leHex(col("img_size"), 4),           // BI_RGB, size
        lit("130B0000"), lit("130B0000"),                     // 2835 ppm
        lit("00000000"), lit("00000000")))                    // colors
      .select(col("doc_id"),
        unhex(concat(col("header_hex"), col("rows_hex"))).as("payload"))
  }

  /** Decodes an image payload with the JDK's `javax.imageio` — any format it
    * reads, BMP, PNG, GIF and JPEG among them. The reader is picked from
    * the payload's magic bytes and reads from memory
    * (`ImageIO.read(InputStream)` would cache every call in a temp file).
    * The header's width × height is checked against [[MaxDecodePixels]]
    * before any pixel is decoded. Anything malformed, truncated or over
    * budget returns None: decoders run inside `mapPartitions`, where one
    * throw on one payload fails the task. A read warning counts as a
    * failure too — that is how a JPEG truncated mid-scan comes back, with
    * its missing blocks filled in gray. */
  private[ops] def decodeImage(bytes: Array[Byte]): Option[BufferedImage] = {
    val in = new MemoryCacheImageInputStream(new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = ImageIO.getImageReaders(in)
      if (!readers.hasNext) None
      else {
        val reader = readers.next()
        try {
          var warned = false
          reader.addIIOReadWarningListener((_, _) => warned = true)
          reader.setInput(in, true, true)
          if (reader.getWidth(0).toLong * reader.getHeight(0) > MaxDecodePixels) None
          else {
            val img = reader.read(0)
            if (warned) None else Some(img)
          }
        } finally reader.dispose()
      }
    } catch { case NonFatal(_) => None }
    finally in.close()
  }

  /** Per-channel statistics of a decoded image, one row per raster band in
    * `bands` (channel c reads band `bands(c)`): pixel count, sum, min, max
    * and a POSITION-WEIGHTED sum Σ (y·w + x)·v over the logical row-major
    * pixel index. The weighted sum is what proves the decode reconstructed
    * positions: a flipped row order or a pad byte read as a pixel gives the
    * same plain sum but a different weighted sum. An indexed image's value
    * is its palette red. An image with fewer bands than `bands` asks for
    * gives no rows: ImageIO also reads payloads the query's format does not
    * describe (an 8-bpp BMP, a gray PNG) into a one-band raster. */
  private[ops] def channelStats(img: BufferedImage,
      bands: Seq[Int]): Seq[(Int, Long, Long, Long, Long, Long)] = {
    val raster = img.getRaster
    val read = if (raster.getNumBands > bands.max) bands else Nil
    val w = img.getWidth; val h = img.getHeight
    val value: Int => Int = img.getColorModel match {
      case icm: IndexColorModel => icm.getRed
      case _ => identity
    }
    read.zipWithIndex.map { case (band, c) =>
      var sum = 0L; var wsum = 0L
      var mn = Long.MaxValue; var mx = Long.MinValue
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = value(raster.getSample(x, y, band)).toLong
          sum += v; wsum += (y.toLong * w + x) * v
          if (v < mn) mn = v; if (v > mx) mx = v
          x += 1
        }
        y += 1
      }
      (c, w.toLong * h, sum, wsum, mn, mx)
    }
  }

  /** [[channelStats]] over `bands` of one payload's [[decodeImage]]; empty,
    * never a throw, for a payload that is not such an image. */
  private[ops] def imageRows(bytes: Array[Byte],
      bands: Seq[Int]): Seq[(Int, Long, Long, Long, Long, Long)] =
    decodeImage(bytes).toSeq.flatMap(channelStats(_, bands))

  /** The image decode inside the `mapPartitions` batch contract (iterate
    * rows in batches, emit fixed-width rows — the exact contract an
    * Arrow-batched codec UDF plugs into): every `payload` of `assets` runs
    * through [[imageRows]]. Map-only, zero shuffle; an undecodable payload
    * emits no rows. */
  private[ops] def imageStats(s: SparkSession, assets: DataFrame, bands: Seq[Int]): DataFrame = {
    val spark = s
    import spark.implicits._
    assets
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(64).flatMap(_.iterator.flatMap { case (id, bytes) =>
          imageRows(bytes, bands).map {
            case (c, n, sum, wsum, mn, mx) => (id, c, n, sum, wsum, mn, mx)
          }
        })
      }
      .toDF("doc_id", "channel", "n_px", "sum_v", "wsum_v", "min_v", "max_v")
      .select(col("doc_id"), col("channel"),
        col("n_px"), col("sum_v"), col("wsum_v"), col("min_v"), col("max_v"),
        (col("sum_v").cast("double") / col("n_px").cast("double"))
          .as("mean_v"))
  }

  /** Per-channel pixel statistics over decoded BMP images — the image-side
    * completion of the decode story ([[features]] is the audio side).
    * Channel c is the c-th stored byte of a pixel, B, G, R — raster bands
    * 2, 1, 0. The oracle re-derives the expected pixels
    * character-arithmetically from the source text WITHOUT parsing the
    * container, so a hash match proves the writer's bottom-up rows, row
    * pad and channel interleave against a stock reader at the byte level.
    * Map-only, zero shuffle. */
  def pixelStats(s: SparkSession, d: String): DataFrame =
    imageStats(s, bmpAssets(s, d), Seq(2, 1, 0))
      .orderBy(col("doc_id"), col("channel"))

  /** PNG asset table with REAL compressed PNGs — the final rung of the
    * decode ladder (WAV: raw samples in a chunked container; BMP: raw
    * pixels with layout tricks; PNG: pixels behind per-row FILTERS and a
    * zlib DEFLATE stream). Each payload is a complete spec-correct PNG:
    * 8-byte signature, big-endian IHDR (8-bit RGB, color type 2), the
    * filtered scanlines deflated into TWO IDAT chunks (readers must
    * concatenate before inflating), CRC32 on every chunk, IEND. The
    * writer applies a different filter per row (None/Sub/Up cycling by
    * y%3), so a decoder that skips unfiltering cannot reproduce the
    * pixels. Pixel values are the same logical row-major text mapping as
    * [[bmpAssets]] — one oracle proves both containers. Synthesis runs in
    * the same mapPartitions codec contract as the decoders (Deflater is
    * imperative by nature); compressed bytes may vary across zlib
    * versions but the DECODED pixels cannot, which is why the gate hashes
    * statistics, never payload bytes. */
  def pngAssets(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        (pmod(col("doc_id"), lit(3)) + 4).cast("int").as("w"),
        (pmod(col("doc_id"), lit(2)) + 3).cast("int").as("h"))
      .as[(Long, String, Int, Int)]
      .mapPartitions { rows =>
        rows.map { case (id, text, w, h) =>
          val n = w * h * 3
          val txt = text.getBytes("UTF-8")
          val px = Array.tabulate[Byte](n)(i =>
            if (i < txt.length) txt(i) else ' '.toByte)
          // Filtered scanlines: filter byte + w*3 filtered values per row.
          val raw = new Array[Byte](h * (1 + w * 3))
          var y = 0
          while (y < h) {
            val ft = y % 3 // 0 None, 1 Sub, 2 Up
            val rowOff = y * (1 + w * 3)
            raw(rowOff) = ft.toByte
            var i = 0
            while (i < w * 3) {
              val cur = px(y * w * 3 + i) & 0xff
              val left = if (i >= 3) px(y * w * 3 + i - 3) & 0xff else 0
              val up = if (y > 0) px((y - 1) * w * 3 + i) & 0xff else 0
              val f = ft match {
                case 0 => cur
                case 1 => (cur - left) & 0xff
                case _ => (cur - up) & 0xff
              }
              raw(rowOff + 1 + i) = f.toByte
              i += 1
            }
            y += 1
          }
          val defl = new java.util.zip.Deflater()
          defl.setInput(raw); defl.finish()
          val zbuf = new java.io.ByteArrayOutputStream()
          val tmp = new Array[Byte](512)
          while (!defl.finished()) zbuf.write(tmp, 0, defl.deflate(tmp))
          defl.end()
          val z = zbuf.toByteArray
          val out = new java.io.ByteArrayOutputStream()
          val dos = new java.io.DataOutputStream(out)
          def chunk(typ: String, data: Array[Byte]): Unit = {
            dos.writeInt(data.length)
            val tb = typ.getBytes("US-ASCII")
            val crc = new java.util.zip.CRC32()
            crc.update(tb); crc.update(data)
            dos.write(tb); dos.write(data); dos.writeInt(crc.getValue.toInt)
          }
          dos.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a))
          val ihdr = java.nio.ByteBuffer.allocate(13)
          ihdr.putInt(w).putInt(h)
            .put(8.toByte).put(2.toByte) // bit depth 8, truecolor RGB
            .put(0.toByte).put(0.toByte).put(0.toByte)
          chunk("IHDR", ihdr.array())
          val split = z.length / 2 // two IDATs: readers must concatenate
          chunk("IDAT", z.slice(0, split))
          chunk("IDAT", z.slice(split, z.length))
          chunk("IEND", Array.emptyByteArray)
          (id, out.toByteArray)
        }
      }
      .toDF("doc_id", "payload")
  }

  /** Per-channel pixel statistics over COMPRESSED PNGs decoded by ImageIO
    * (R, G, B in stream order) — same output contract and same closed-form
    * oracle family as [[pixelStats]], but the decode now crosses a zlib
    * DEFLATE stream and per-row filter reconstruction. A hash match proves
    * both, because any slip changes the position-weighted sums. */
  def pngPixelStats(s: SparkSession, d: String): DataFrame =
    imageStats(s, pngAssets(s, d), Seq(0, 1, 2))
      .orderBy(col("doc_id"), col("channel"))

  /** Perceptual-hash near-duplicate detection over media content — the
    * image-dedup analog of MinHash/LSH: a 63-bit dHash (each bit = "is
    * sample i darker than sample i+1") per asset, banded into 4×16-bit
    * keys, candidate pairs only where a band collides, exact Hamming ≤ 3
    * verify on survivors. Pigeonhole makes the banding LOSSLESS at this
    * threshold (3 differing bits touch ≤ 3 of the 4 bands, so one band
    * always matches) — which is exactly what the deliberately BRUTE-FORCE
    * within-block oracle proves. The "pixels" are the first 65 content
    * samples (codepoints of the padded payload text; 63 bits keeps the
    * top shift in signed-int64 range on both engines — an image pipeline
    * swaps in decoded luma, as [[features]] already does for PCM audio,
    * without touching the dataflow). Scale: sig is map-only
    * codegen (64 compare-shift-ORs), the explode is 4×, the join is
    * per-(block, band, key) buckets — never all-pairs; blocks on
    * (lang, source) like every dd_* query. */
  def phashNearDup(s: SparkSession, d: String): DataFrame = {
    val padded = rpad(col("text"), 64, " ")
    def pix(i: Int): Column = ascii(substring(padded, i, 1))
    val sig = (1 to 63).map(i =>
      when(pix(i) < pix(i + 1), shiftleft(lit(1L), i - 1)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    val sigs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), sig.as("sig"))
    val banded = sigs.select(col("doc_id"), col("lang"), col("source"),
      col("sig"),
      explode(array((0 to 3).map(j => struct(lit(j).as("band"),
        expr(s"(sig >> ${16 * j}) & 65535").as("key"))): _*)).as("b"))
      .select(col("doc_id"), col("lang"), col("source"), col("sig"),
        col("b.band").as("band"), col("b.key").as("key"))
    val a = banded.select(col("lang"), col("source"), col("band"), col("key"),
      col("doc_id").as("a_id"), col("sig").as("a_sig"))
    val b = banded.select(col("lang"), col("source"), col("band"), col("key"),
      col("doc_id").as("b_id"), col("sig").as("b_sig"))
    a.join(b, Seq("lang", "source", "band", "key"))
      .filter(col("a_id") < col("b_id"))
      .select(col("lang"), col("source"), col("a_id"), col("b_id"),
        bit_count(col("a_sig").bitwiseXOR(col("b_sig"))).cast("int")
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy(col("lang"), col("source"), col("a_id"), col("b_id"))
  }

  /** Content-type SNIFFING / routing — the dispatch step in front of any
    * decode: detect each payload's real format from magic bytes alone
    * (PNG 8-byte signature, JPEG SOI, RIFF fourcc; anything else routes
    * to 'unknown') across all three asset tables, and report the
    * origin × sniffed matrix. The oracle is CLOSED-FORM from the asset
    * synthesis rules (even doc_id → png, odd → jpeg; audio all wav; raw
    * text never matches a magic), so equality proves the byte-level
    * detector, not just self-consistency. Map-only scan + one tiny
    * aggregate. */
  def sniffRoute(s: SparkSession, d: String): DataFrame = {
    def sniff(c: Column): Column =
      when(hex(substring(c, 1, 8)) === "89504E470D0A1A0A", "png")
        .when(hex(substring(c, 1, 2)) === "FFD8", "jpeg")
        .when(hex(substring(c, 1, 4)) === "52494646", "wav")
        .otherwise("unknown")
    val img = imageAssets(s, d)
      .select(lit("image_table").as("origin"), col("payload"))
    val aud = audioAssets(s, d)
      .select(lit("audio_table").as("origin"), col("payload"))
    val raw = assets(s, d)
      .select(lit("raw_table").as("origin"), col("payload"))
    img.unionByName(aud).unionByName(raw)
      .select(col("origin"), sniff(col("payload")).as("sniffed"))
      .groupBy(col("origin"), col("sniffed"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("origin"), col("sniffed"))
  }

  /** Recall monitor for [[phashNearDup]]'s banding — the same
    * measure-your-index discipline as `dd_lsh_recall`/`sim_ann_recall`,
    * applied to the perceptual-hash bands: per Hamming distance 0..6,
    * how many true pairs exist (blocked brute force over the signatures)
    * and how many the 4×16-bit bands surface. Pigeonhole GUARANTEES
    * recall 1.0 through distance 3 (the neardup query's operating
    * point); 4..6 is the lossy tail this monitor quantifies before
    * anyone raises the threshold. Signature computation is shared
    * map-only code; the brute pass is block-bounded like every dd_*
    * verify. */
  def phashRecall(s: SparkSession, d: String): DataFrame = {
    val padded = rpad(col("text"), 64, " ")
    def pix(i: Int): Column = ascii(substring(padded, i, 1))
    val sig = (1 to 63).map(i =>
      when(pix(i) < pix(i + 1), shiftleft(lit(1L), i - 1)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    val sigs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), sig.as("sig"))
    val a = sigs.select(col("lang"), col("source"),
      col("doc_id").as("a_id"), col("sig").as("a_sig"))
    val b = sigs.select(col("lang"), col("source"),
      col("doc_id").as("b_id"), col("sig").as("b_sig"))
    val brute = a.join(b, Seq("lang", "source"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_sig").bitwiseXOR(col("b_sig"))).cast("int")
          .as("hamming"))
      .filter(col("hamming") <= 6)
    val banded = sigs.select(col("doc_id"), col("lang"), col("source"),
        explode(array((0 to 3).map(j => struct(lit(j).as("band"),
          expr(s"(sig >> ${16 * j}) & 65535").as("key"))): _*)).as("bd"))
      .select(col("doc_id"), col("lang"), col("source"),
        col("bd.band").as("band"), col("bd.key").as("key"))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.lang") === col("y.lang") && col("x.source") === col("y.source")
          && col("x.band") === col("y.band") && col("x.key") === col("y.key"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
      .withColumn("found", lit(1L))
    brute.join(cand, Seq("a_id", "b_id"), "left")
      .groupBy(col("hamming"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("found"), lit(0L))).cast("long").as("n_banded"))
      .withColumn("recall",
        col("n_banded").cast("double") / col("n_pairs").cast("double"))
      .orderBy(col("hamming"))
  }

  /** Real GIF LZW ENCODER (variable-width codes, LSB-first bit packing,
    * 255-byte sub-block framing): genuine dictionary compression with
    * table growth and width bumps, not a literals-plus-clears shortcut —
    * a decoder without a working code table cannot read it. Width grows
    * when the NEXT code would not fit (`nextCode > 2^size` after the
    * add — the deferred, spec-standard timing that pairs with a
    * decoder's `next == 2^size` rule, one table entry apart by
    * construction); at 4096 the table resets through a CLEAR code. */
  private[ops] def lzwEncode(pixels: Array[Int], minCode: Int): Array[Byte] = {
    val clear = 1 << minCode
    val eoi = clear + 1
    val codes = new java.io.ByteArrayOutputStream()
    var bitBuf = 0L; var bitCnt = 0
    var codeSize = minCode + 1
    def emit(c: Int): Unit = {
      bitBuf |= c.toLong << bitCnt; bitCnt += codeSize
      while (bitCnt >= 8) {
        codes.write((bitBuf & 0xff).toInt); bitBuf >>>= 8; bitCnt -= 8
      }
    }
    val dict = scala.collection.mutable.LongMap.empty[Int]
    var nextCode = eoi + 1
    def key(prefix: Int, k: Int): Long = prefix.toLong << 16 | k
    emit(clear)
    var cur = pixels(0)
    var i = 1
    while (i < pixels.length) {
      val k = pixels(i)
      val hit = dict.getOrElse(key(cur, k), -1)
      if (hit >= 0) cur = hit
      else {
        emit(cur)
        if (nextCode < 4096) {
          dict.put(key(cur, k), nextCode); nextCode += 1
          if (nextCode > (1 << codeSize) && codeSize < 12) codeSize += 1
        } else { // table full: reset, spec-style
          emit(clear); dict.clear(); nextCode = eoi + 1; codeSize = minCode + 1
        }
        cur = k
      }
      i += 1
    }
    emit(cur); emit(eoi)
    if (bitCnt > 0) codes.write((bitBuf & 0xff).toInt)
    // 255-byte sub-block framing + terminator.
    val raw = codes.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    var off = 0
    while (off < raw.length) {
      val n = math.min(255, raw.length - off)
      out.write(n); out.write(raw, off, n); off += n
    }
    out.write(0)
    out.toByteArray
  }

  /** GIF asset table with REAL GIF89a files — the fourth rung of the
    * codec ladder (WAV: raw PCM; BMP: layout tricks; PNG: filters +
    * DEFLATE; GIF: LZW dictionary compression): header, logical screen
    * descriptor, a 256-entry GRAYSCALE global color table (palette index
    * = gray value, so the pixel stream is the byte stream), image
    * descriptor, and the [[lzwEncode]]d indices in framed sub-blocks.
    * Pixels are the single-channel logical text mapping (pixel i = text
    * char i, space-padded to w·h); dims w = 6 + id%4, h = 4 + id%3. */
  def gifAssets(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        (pmod(col("doc_id"), lit(4)) + 6).cast("int").as("w"),
        (pmod(col("doc_id"), lit(3)) + 4).cast("int").as("h"))
      .as[(Long, String, Int, Int)]
      .mapPartitions { rows =>
        rows.map { case (id, text, w, h) =>
          val txt = text.getBytes("UTF-8")
          (id, encodeGif(Array.tabulate(w * h)(i =>
            if (i < txt.length) txt(i) & 0xff else ' '.toInt), w, h))
        }
      }
      .toDF("doc_id", "payload")
  }

  /** One w×h GIF89a image of 8-bit palette indices `px` (row-major), with a
    * 256-entry gray global color table (index = gray value). */
  private[ops] def encodeGif(px: Array[Int], w: Int, h: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write(v >> 8 & 0xff) }
    out.write("GIF89a".getBytes("US-ASCII"))
    le16(w); le16(h)
    out.write(0xF7) // GCT present, 8-bit color res, 256 entries
    out.write(0); out.write(0) // background index, aspect
    var g = 0
    while (g < 256) { out.write(g); out.write(g); out.write(g); g += 1 }
    out.write(0x2C) // image descriptor
    le16(0); le16(0); le16(w); le16(h)
    out.write(0) // no local table, not interlaced
    out.write(8) // LZW minimum code size
    out.write(lzwEncode(px, 8))
    out.write(0x3B) // trailer
    out.toByteArray
  }

  /** Pixel statistics over GIFs decoded by ImageIO: the palette red value
    * of each pixel, with no channel column. The oracle re-derives the
    * pixels character-arithmetically from the source text without parsing
    * the container — a hash match proves the LZW round trip at the byte
    * level, position-weighted so a scrambled decode order cannot pass. */
  def gifPixelStats(s: SparkSession, d: String): DataFrame =
    imageStats(s, gifAssets(s, d), Seq(0)).drop("channel")
      .orderBy(col("doc_id"))

  // --- JPEG: the entropy-coding + transform rung of the codec ladder ---

  /** Standard luminance Huffman tables (ITU-T T.81 Annex K.3.3): the
    * (bits-per-length, values) pairs every baseline encoder ships. */
  private[ops] val DcBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private[ops] val DcVals: Array[Int] = (0 to 11).toArray
  private[ops] val AcBits = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125)
  private[ops] val AcVals: Array[Int] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3,
    0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
    0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2, 0xf3, 0xf4,
    0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)

  /** Canonical Huffman code assignment (T.81 Annex C): value → (code,
    * length), codes counted up within a length, doubled across lengths. */
  private[ops] def huffCodes(bits: Array[Int], vals: Array[Int]): Map[Int, (Int, Int)] = {
    var code = 0; var vi = 0
    val out = Map.newBuilder[Int, (Int, Int)]
    for (len <- 1 to 16) {
      for (_ <- 0 until bits(len - 1)) {
        out += vals(vi) -> (code, len); code += 1; vi += 1
      }
      code <<= 1
    }
    out.result()
  }

  /** JPEG asset table with REAL baseline JPEGs — the final rung of the
    * codec ladder (PNG proved DEFLATE + filters; GIF proved LZW; JPEG
    * adds ENTROPY CODING + the transform): each payload is a complete
    * spec-correct grayscale baseline JFIF stream — DQT (flat q=16 table),
    * SOF0, the two standard Annex-K luminance Huffman tables via DHT,
    * SOS, an entropy-coded segment with byte stuffing, EOI. Pixels are
    * flat 8×8 blocks whose values derive from the document text's
    * CODEPOINTS clamped to 7-bit (non-ASCII → 127; mirrored in the oracle
    * as least(ord, 127) so both sides stay aligned and in-range on any
    * fixture) then rounded DOWN TO EVEN — chosen so the quantized DC
    * roundtrip
    * (D = 8·(v−128)/16 exact for even v, F′ = 16·D, pixel = F′/8 + 128)
    * reconstructs the source EXACTLY through real quantization: the
    * decode is bit-predictable (the closed-form oracle) while still
    * crossing real Huffman tables, DC-difference categories, stuffed
    * bytes, dequantization, and a full 64-coefficient IDCT. */
  def jpegAssets(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        ((pmod(col("doc_id"), lit(2)) + 1) * 8).cast("int").as("w"),
        ((pmod(col("doc_id"), lit(3)) + 1) * 8).cast("int").as("h"))
      .as[(Long, String, Int, Int)]
      .mapPartitions { rows =>
        rows.map { case (id, text, w, h) => (id, encodeJpeg(text, w, h)) }
      }
      .toDF("doc_id", "payload")
  }

  /** Minimal-but-real baseline encoder used only by [[jpegAssets]]: flat
    * blocks mean every AC is zero, but the DC stream exercises the full
    * difference/category/sign-extension machinery and the bit writer
    * performs real 0xFF byte stuffing. */
  private[ops] def encodeJpeg(text: String, w: Int, h: Int): Array[Byte] = {
    val wb = w / 8; val hb = h / 8; val nb = wb * hb
    // CODEPOINTS, not UTF-8 bytes: the oracle indexes characters
    // (substr/ord), so byte-indexing would desync on any non-ASCII text.
    // Clamp to 7-bit — mirrored as least(ord(..), 127) in the oracle SQL —
    // so the synthesis is ASCII-stable by construction, not by fixture luck.
    val txt = text.codePoints().toArray
    // Block value: clamped codepoint rounded down to even (scaladoc above).
    def bv(k: Int): Int = {
      val c = if (k < txt.length) math.min(txt(k), 127) else ' '.toInt
      c - (c % 2)
    }
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def u16(v: Int): Unit = { u8(v >> 8); u8(v) }
    def marker(m: Int): Unit = { u8(0xff); u8(m) }
    marker(0xd8) // SOI
    marker(0xdb); u16(67); u8(0x00) // DQT: 8-bit table 0
    for (_ <- 0 until 64) u8(16)
    marker(0xc0); u16(11); u8(8); u16(h); u16(w); u8(1) // SOF0, 1 comp
    u8(1); u8(0x11); u8(0) // comp id 1, 1x1 sampling, qtable 0
    def dht(cls: Int, bits: Array[Int], vals: Array[Int]): Unit = {
      marker(0xc4); u16(2 + 1 + 16 + vals.length); u8(cls << 4)
      bits.foreach(u8); vals.foreach(u8)
    }
    dht(0, DcBits, DcVals); dht(1, AcBits, AcVals)
    marker(0xda); u16(8); u8(1); u8(1); u8(0x00); u8(0); u8(63); u8(0) // SOS
    val dcCode = huffCodes(DcBits, DcVals)
    val acCode = huffCodes(AcBits, AcVals)
    var acc = 0; var nbits = 0
    def put(code: Int, len: Int): Unit = {
      acc = (acc << len) | (code & ((1 << len) - 1)); nbits += len
      while (nbits >= 8) {
        val b = (acc >> (nbits - 8)) & 0xff
        u8(b); if (b == 0xff) u8(0x00) // byte stuffing
        nbits -= 8
      }
    }
    var pred = 0
    for (k <- 0 until nb) {
      val dc = (8 * (bv(k) - 128)) / 16 // exact: bv is even
      val diff = dc - pred; pred = dc
      val mag = math.abs(diff)
      val cat = 32 - Integer.numberOfLeadingZeros(mag) // 0 for diff == 0
      val (c, l) = dcCode(cat); put(c, l)
      if (cat > 0) put(if (diff > 0) diff else diff + (1 << cat) - 1, cat)
      val (ec, el) = acCode(0x00); put(ec, el) // EOB: all ACs zero
    }
    if (nbits > 0) put((1 << (8 - nbits)) - 1, 8 - nbits) // pad with 1s
    marker(0xd9) // EOI
    out.toByteArray
  }

  /** Pixel statistics over baseline JPEGs decoded by ImageIO — same output
    * contract as [[pngPixelStats]] (channel always 0: grayscale), read
    * from the raw raster sample: `getRGB` would route the gray value
    * through the linear-gray→sRGB conversion and gamma-shift it. The
    * even-rounding synthesis makes the lossy roundtrip exactly
    * predictable, so DuckDB re-derives the decoded pixels
    * character-arithmetically (position-weighted sums catch any
    * block-order or in-block slip). */
  def jpegPixelStats(s: SparkSession, d: String): DataFrame =
    imageStats(s, jpegAssets(s, d), Seq(0))
      .orderBy(col("doc_id"), col("channel"))

  override def catalog: Seq[Query] = Seq(
    // Closed-form from the jpegAssets synthesis: the even-rounded block
    // value survives the quantized DCT roundtrip exactly, so the decoded
    // pixel grid is block value v(k) replicated over each 8x8 block,
    // blocks row-major k = (y//8)*(w//8) + x//8.
    Query("mm_jpeg_pixels", jpegPixelStats, Some(
      """WITH p AS (
        |  SELECT doc_id, text,
        |    CAST((doc_id % 2 + 1) * 8 AS INT) AS w,
        |    CAST((doc_id % 3 + 1) * 8 AS INT) AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h,
        |    rpad(text, (w // 8) * (h // 8), ' ') AS s
        |  FROM p),
        |v AS (
        |  SELECT doc_id, w, h, i.i AS i,
        |    least(ord(substr(s,
        |      CAST((i.i // w // 8) * (w // 8) + ((i.i % w) // 8) + 1 AS INT),
        |      1)), 127) AS o
        |  FROM px
        |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
        |    CAST(w AS BIGINT) * h - 1)) AS i) i)
        |SELECT doc_id, CAST(0 AS INT) AS channel,
        |  CAST(COUNT(*) AS BIGINT) AS n_px,
        |  CAST(SUM(o - (o % 2)) AS BIGINT) AS sum_v,
        |  CAST(SUM(i * (o - (o % 2))) AS BIGINT) AS wsum_v,
        |  CAST(MIN(o - (o % 2)) AS BIGINT) AS min_v,
        |  CAST(MAX(o - (o % 2)) AS BIGINT) AS max_v,
        |  CAST(SUM(o - (o % 2)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS mean_v
        |FROM v GROUP BY doc_id
        |ORDER BY doc_id, channel""".stripMargin)),
    Query("mm_phash_recall", phashRecall, Some(
      """WITH s AS (
        |  SELECT doc_id, lang, source,
        |    list_reduce(list_transform(generate_series(1, 63), i ->
        |      CASE WHEN ord(substr(rpad(text, 64, ' '), CAST(i AS INT), 1))
        |             < ord(substr(rpad(text, 64, ' '), CAST(i AS INT) + 1, 1))
        |      THEN (CAST(1 AS BIGINT) << CAST(i - 1 AS INT))
        |      ELSE CAST(0 AS BIGINT) END),
        |      (a, x) -> a | x) AS sig
        |  FROM documents),
        |brute AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
        |  FROM s a JOIN s b ON a.lang = b.lang AND a.source = b.source
        |    AND a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.sig, b.sig)) <= 6),
        |bands AS (
        |  SELECT doc_id, lang, source, j,
        |    (sig >> CAST(16 * j AS INT)) & 65535 AS key
        |  FROM s CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j)),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        |  FROM bands x JOIN bands y ON x.lang = y.lang
        |    AND x.source = y.source AND x.j = y.j AND x.key = y.key
        |    AND x.doc_id < y.doc_id)
        |SELECT hamming, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(CASE WHEN cand.a_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_banded,
        |  CAST(SUM(CASE WHEN cand.a_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
        |FROM brute LEFT JOIN cand
        |  ON brute.a_id = cand.a_id AND brute.b_id = cand.b_id
        |GROUP BY hamming ORDER BY hamming""".stripMargin)),
    // CLOSED-FORM from the synthesis rules — proves the magic-byte
    // detector maps every payload to its true container format.
    Query("mm_sniff_route", sniffRoute, Some(
      """SELECT origin, sniffed, n FROM (
        |  SELECT 'image_table' AS origin,
        |    CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS sniffed,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2
        |  UNION ALL
        |  SELECT 'audio_table', 'wav', CAST(COUNT(*) AS BIGINT)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'raw_table', 'unknown', CAST(COUNT(*) AS BIGINT)
        |  FROM documents)
        |ORDER BY origin, sniffed""".stripMargin)),
    // Deliberately BRUTE-FORCE within blocks (no banding): equality
    // proves the 4-band candidate generation lossless at Hamming <= 3.
    Query("mm_phash_neardup", phashNearDup, Some(
      """WITH s AS (
        |  SELECT doc_id, lang, source,
        |    list_reduce(list_transform(generate_series(1, 63), i ->
        |      CASE WHEN ord(substr(rpad(text, 64, ' '), CAST(i AS INT), 1))
        |             < ord(substr(rpad(text, 64, ' '), CAST(i AS INT) + 1, 1))
        |      THEN (CAST(1 AS BIGINT) << CAST(i - 1 AS INT))
        |      ELSE CAST(0 AS BIGINT) END),
        |      (a, x) -> a | x) AS sig
        |  FROM documents)
        |SELECT a.lang, a.source, a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
        |FROM s a JOIN s b ON a.lang = b.lang AND a.source = b.source
        |  AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 3
        |ORDER BY a.lang, a.source, a_id, b_id""".stripMargin)),
    // Closed-form expected values from the synthesis formulas — the Spark
    // side derives them only from the bytes (LE fmt fields + chunk walk).
    Query("mm_audio_meta", audioMeta, Some(
      """WITH p AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 2 + 1 AS BIGINT) AS channels,
        |    CAST((doc_id % 3 + 1) * 8000 AS BIGINT) AS sample_rate,
        |    CAST((doc_id % 2 + 1) * 8 AS BIGINT) AS bits_per_sample,
        |    CAST(36 + 8 + (doc_id % 5 + 4) + (doc_id % 5 + 4) % 2
        |      AS BIGINT) AS data_off,
        |    CAST(length(text) AS BIGINT) AS data_len
        |  FROM documents)
        |SELECT doc_id, 1 AS valid, channels, sample_rate, bits_per_sample,
        |  1 AS byte_rate_ok, data_off, data_len, 1 AS len_ok,
        |  (data_len * 1000) // ((sample_rate * channels * bits_per_sample) // 8)
        |    AS duration_ms
        |FROM p ORDER BY doc_id""".stripMargin)),
    Query("mm_image_dims", imageDims, Some(
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
        |    (doc_id % 4) * 160 + 320 AS w,
        |    (doc_id % 3) * 120 + 240 AS h,
        |    (doc_id % 8) + 16 AS app0_len,
        |    (doc_id % 5) + 4 AS com_len
        |  FROM documents),
        |hdr AS (
        |  SELECT doc_id, format, app0_len, com_len,
        |    CASE WHEN format = 'png'
        |      THEN '89504E470D0A1A0A0000000D49484452'
        |        || lpad(upper(to_hex(w)), 8, '0')
        |        || lpad(upper(to_hex(h)), 8, '0') || '0806000000'
        |      ELSE 'FFD8FFE0' || lpad(upper(to_hex(app0_len)), 4, '0')
        |        || repeat('00', app0_len - 2)
        |        || 'FFFE' || lpad(upper(to_hex(com_len)), 4, '0')
        |        || repeat('00', com_len - 2)
        |        || 'FFC0001108' || lpad(upper(to_hex(h)), 4, '0')
        |        || lpad(upper(to_hex(w)), 4, '0') || '03014100021101031101'
        |    END AS header_hex,
        |    CASE WHEN format = 'png' THEN -1
        |      ELSE 2 + 2 + app0_len + 2 + com_len END AS sof_off
        |  FROM base)
        |SELECT doc_id, format,
        |  CAST(CASE WHEN format = 'png'
        |    THEN CAST(('0x' || substring(header_hex, 33, 8)) AS BIGINT)
        |    ELSE CAST(('0x' || substring(header_hex, sof_off * 2 + 15, 4))
        |      AS BIGINT) END AS INT) AS width,
        |  CAST(CASE WHEN format = 'png'
        |    THEN CAST(('0x' || substring(header_hex, 41, 8)) AS BIGINT)
        |    ELSE CAST(('0x' || substring(header_hex, sof_off * 2 + 11, 4))
        |      AS BIGINT) END AS INT) AS height,
        |  CAST(CASE WHEN format = 'png' THEN 16 ELSE sof_off + 7 END
        |    AS BIGINT) AS dims_off
        |FROM hdr ORDER BY doc_id""".stripMargin)),
    Query("mm_binary_meta", binaryMeta, Some(
      """SELECT doc_id,
        |  length(text) AS n_bytes,
        |  md5(text) AS payload_md5,
        |  CAST(ceil(length(text) / 64.0) AS BIGINT) AS n_blocks,
        |  md5(substring(text, 1, 64)) AS head_block_md5,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image/png'
        |       WHEN doc_id % 3 = 1 THEN 'audio/wav'
        |       ELSE 'video/mp4' END AS media_type,
        |  CAST((doc_id % 4) * 160 + 320 AS INT) AS width,
        |  CAST((doc_id % 3) * 120 + 240 AS INT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // The decoder's samples re-derived character-arithmetically from the
    // source text (the data chunk's bytes), using only the SYNTHESIS
    // formulas for channel count / rate / depth — the container the Spark
    // decoder must actually walk is never parsed here, so equality proves
    // the writer's chunk layout + fmt fields + frame interleave.
    Query("mm_features", features, Some(
      """WITH p AS (
        |  SELECT doc_id, text,
        |    CAST(doc_id % 2 + 1 AS INT) AS ch,
        |    CAST((doc_id % 3 + 1) * 8000 AS BIGINT) AS sample_rate,
        |    CAST((doc_id % 2 + 1) * 8 AS INT) AS bits,
        |    CAST(length(text) AS BIGINT) AS len
        |  FROM documents),
        |f AS (SELECT doc_id, text, ch, sample_rate, bits,
        |    len // (ch * bits // 8) AS n_frames FROM p),
        |s AS (
        |  SELECT doc_id, c AS channel, sample_rate, n_frames,
        |    list_transform(generate_series(0, n_frames - 1), i ->
        |      CASE WHEN bits = 8
        |        THEN ord(substr(text, CAST(i * ch + c + 1 AS INT), 1)) - 128
        |        ELSE ((ord(substr(text, CAST((i * ch + c) * 2 + 1 AS INT), 1))
        |          + 256 * ord(substr(text,
        |              CAST((i * ch + c) * 2 + 2 AS INT), 1))
        |          + 32768) % 65536) - 32768 END) AS v
        |  FROM f CROSS JOIN (SELECT unnest([0, 1]) AS c)
        |  WHERE c < ch AND n_frames > 0)
        |SELECT doc_id, channel, sample_rate,
        |  CAST(n_frames AS BIGINT) AS n_frames,
        |  CAST(list_sum(v) AS BIGINT) AS sum_amp,
        |  CAST(list_sum(v) AS DOUBLE) / CAST(n_frames AS DOUBLE) AS mean_amp,
        |  sqrt(CAST(list_sum(list_transform(v, x -> x * x)) AS DOUBLE) /
        |    CAST(n_frames AS DOUBLE)) AS rms,
        |  CAST(list_max(list_transform(v, x -> abs(x))) AS BIGINT) AS peak
        |FROM s ORDER BY doc_id, channel""".stripMargin)),
    // The decoder's pixels re-derived character-arithmetically from the
    // source text (logical row-major order, space-padded to w·h·3) using
    // only the synthesis formulas for the dimensions — the BMP container
    // (bottom-up rows, stride pad, LE headers) is never parsed here, so
    // equality proves the byte-level decode including the vertical flip
    // (the position-weighted sum is flip-sensitive).
    // Same first-principles text derivation as mm_pixel_stats, single
    // channel: the hash proves the LZW dictionary round trip, the
    // palette mapping, and the position order.
    Query("mm_gif_pixels", gifPixelStats, Some(
      """WITH p AS (
        |  SELECT doc_id, text,
        |    CAST(doc_id % 4 + 6 AS INT) AS w,
        |    CAST(doc_id % 3 + 4 AS INT) AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h, rpad(text, w * h, ' ') AS s
        |  FROM p),
        |v AS (
        |  SELECT doc_id, i.i AS i,
        |    ord(substr(s, CAST(i.i + 1 AS INT), 1)) AS val
        |  FROM px
        |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
        |    CAST(w AS BIGINT) * h - 1)) AS i) i)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_px,
        |  CAST(SUM(val) AS BIGINT) AS sum_v,
        |  CAST(SUM(i * val) AS BIGINT) AS wsum_v,
        |  CAST(MIN(val) AS BIGINT) AS min_v,
        |  CAST(MAX(val) AS BIGINT) AS max_v,
        |  CAST(SUM(val) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_v
        |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    Query("mm_pixel_stats", pixelStats, Some(
      """WITH p AS (
        |  SELECT doc_id, text,
        |    CAST(doc_id % 3 + 4 AS INT) AS w,
        |    CAST(doc_id % 2 + 3 AS INT) AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h,
        |    rpad(text, w * h * 3, ' ') AS s
        |  FROM p),
        |v AS (
        |  SELECT doc_id, w, h, c.c AS channel, i.i AS i,
        |    ord(substr(s, CAST(i.i * 3 + c.c + 1 AS INT), 1)) AS val
        |  FROM px
        |  CROSS JOIN (SELECT unnest([0, 1, 2]) AS c) c
        |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
        |    CAST(w AS BIGINT) * h - 1)) AS i) i)
        |SELECT doc_id, CAST(channel AS INT) AS channel,
        |  CAST(COUNT(*) AS BIGINT) AS n_px,
        |  CAST(SUM(val) AS BIGINT) AS sum_v,
        |  CAST(SUM(i * val) AS BIGINT) AS wsum_v,
        |  CAST(MIN(val) AS BIGINT) AS min_v,
        |  CAST(MAX(val) AS BIGINT) AS max_v,
        |  CAST(SUM(val) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_v
        |FROM v GROUP BY doc_id, channel
        |ORDER BY doc_id, channel""".stripMargin)),
    // Identical oracle to mm_pixel_stats: BMP and PNG carry the SAME
    // logical pixels (row-major text mapping, same dims formulas) behind
    // different containers — one first-principles recomputation proves
    // both containers, including the PNG side's deflate + row filters.
    Query("mm_png_pixels", pngPixelStats, Some(
      """WITH p AS (
        |  SELECT doc_id, text,
        |    CAST(doc_id % 3 + 4 AS INT) AS w,
        |    CAST(doc_id % 2 + 3 AS INT) AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h,
        |    rpad(text, w * h * 3, ' ') AS s
        |  FROM p),
        |v AS (
        |  SELECT doc_id, w, h, c.c AS channel, i.i AS i,
        |    ord(substr(s, CAST(i.i * 3 + c.c + 1 AS INT), 1)) AS val
        |  FROM px
        |  CROSS JOIN (SELECT unnest([0, 1, 2]) AS c) c
        |  CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
        |    CAST(w AS BIGINT) * h - 1)) AS i) i)
        |SELECT doc_id, CAST(channel AS INT) AS channel,
        |  CAST(COUNT(*) AS BIGINT) AS n_px,
        |  CAST(SUM(val) AS BIGINT) AS sum_v,
        |  CAST(SUM(i * val) AS BIGINT) AS wsum_v,
        |  CAST(MIN(val) AS BIGINT) AS min_v,
        |  CAST(MAX(val) AS BIGINT) AS max_v,
        |  CAST(SUM(val) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_v
        |FROM v GROUP BY doc_id, channel
        |ORDER BY doc_id, channel""".stripMargin)),
    Query("mm_resize", resize, Some {
      val picks = (0 until 16)
        .map(i => s"substring(text, $i * stride + 1, 1)").mkString(" || ")
      s"""WITH t AS (
         |  SELECT doc_id, text, length(text) AS n_bytes,
         |    greatest(1, CAST(floor(length(text) / 16) AS INT)) AS stride
         |  FROM documents)
         |SELECT doc_id, n_bytes, CAST(stride AS BIGINT) AS scale_stride,
         |  CAST(length($picks) AS BIGINT) AS thumb_bytes,
         |  md5($picks) AS thumb_md5
         |FROM t ORDER BY doc_id""".stripMargin
    }),
    Query("mm_frame_sample", frameSample, Some(
      """SELECT doc_id, frame_idx,
        |  CAST(frame_idx * 128 AS BIGINT) AS "offset",
        |  md5(substring(text, CAST(frame_idx * 128 + 1 AS INT), 32)) AS frame_md5,
        |  CAST(length(substring(text, CAST(frame_idx * 128 + 1 AS INT), 32))
        |    AS BIGINT) AS frame_len
        |FROM (
        |  SELECT doc_id, text, unnest(generate_series(0,
        |    CAST(floor((length(text) - 1) / 128.0) AS BIGINT))) AS frame_idx
        |  FROM documents) f
        |ORDER BY doc_id, frame_idx""".stripMargin)),
  )
}
