package graft.ops

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Corruption-robustness battery for the whole codec ladder
  * (BMP / PNG / GIF / JPEG through ImageIO's [[Multimodal.decodeImage]]
  * and the per-channel statistics, WAV through AudioSystem's
  * [[Multimodal.decodePcm]]). The decoders run inside
  * `mapPartitions` over binary columns — at fleet scale a single
  * uncaught exception on one malformed payload kills a task (and with
  * retries, the stage), so the load-bearing contract is NOT "decodes
  * correctly" (the oracles prove that) but "NEVER throws: any byte
  * garbage returns empty/None". This spec attacks one valid payload per
  * codec with exhaustive truncations, exhaustive single-byte flips (two
  * patterns per offset), and seeded random multi-byte corruption, and
  * only asserts the decoder RETURNS. Every battery is deterministic —
  * a failure names the codec, mutation and offset, so it reproduces. */
class CodecFuzzSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def firstPayload(df: org.apache.spark.sql.DataFrame): Array[Byte] =
    df.select("doc_id", "payload").orderBy("doc_id").limit(1)
      .collect()(0).getAs[Array[Byte]]("payload")

  // Each format's decode + statistics path, exactly as its query runs it
  // (image: decodeImage then channelStats over that format's raster bands),
  // wrapped to a uniform "returns row count" shape; the value is
  // irrelevant, only normal return matters.
  private lazy val codecs: Seq[(String, Array[Byte], Array[Byte] => Int)] = {
    val sf = TestSpark.sf
    def image(bands: Int*) = (b: Array[Byte]) => Multimodal.imageRows(b, bands).size
    Seq(
      ("bmp", firstPayload(Multimodal.bmpAssets(spark, sf)), image(2, 1, 0)),
      ("png", firstPayload(Multimodal.pngAssets(spark, sf)), image(0, 1, 2)),
      ("gif", firstPayload(Multimodal.gifAssets(spark, sf)), image(0)),
      ("wav", firstPayload(Multimodal.audioAssets(spark, sf)),
        (b: Array[Byte]) => Multimodal.decodePcm(b).size),
      ("jpeg", firstPayload(Multimodal.jpegAssets(spark, sf)), image(0)))
  }

  // The battery's contract is "the decoder RETURNS" — so non-termination
  // (e.g. a zero-progress inflate loop on an FDICT zlib header) must fail
  // with the codec/mutation/offset named, not stall the suite. Each decode
  // runs on a daemon worker with a hard deadline; thread interrupts can't
  // stop a CPU-bound loop, so on timeout the worker is abandoned (daemon,
  // won't block JVM exit) and a fresh one takes over for later calls.
  private val DecodeDeadlineSec = 30L
  private def newWorker() =
    java.util.concurrent.Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "codec-fuzz-worker"); t.setDaemon(true); t
    }
  private var worker = newWorker()

  /** Runs one decode under the deadline and returns its size; fails the
    * test (named) on hang or throw. EVERY decode in this suite — including
    * the fixture-validity checks on unmutated payloads — must go through
    * here, or a non-termination regression on that path stalls the suite
    * instead of reporting.
    */
  private def boundedDecode(codec: String, what: String, bytes: Array[Byte],
      decode: Array[Byte] => Int): Int = {
    val fut = worker.submit(new java.util.concurrent.Callable[Int] {
      def call(): Int = decode(bytes)
    })
    try fut.get(DecodeDeadlineSec, java.util.concurrent.TimeUnit.SECONDS)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        fut.cancel(true)
        worker.shutdownNow()
        worker = newWorker()
        fail(s"$codec decoder HUNG (>${DecodeDeadlineSec}s) on $what")
      case e: java.util.concurrent.ExecutionException =>
        val c = e.getCause
        fail(s"$codec decoder threw on $what: ${c.getClass.getName}: ${c.getMessage}")
    }
  }

  private def mustReturn(codec: String, what: String, bytes: Array[Byte],
      decode: Array[Byte] => Int): Unit = {
    boundedDecode(codec, what, bytes, decode); ()
  }

  test("every truncation of a valid payload decodes without throwing") {
    codecs.foreach { case (name, payload, decode) =>
      assert(boundedDecode(name, "the unmutated fixture payload", payload,
        decode) > 0, s"$name: fixture payload must decode")
      (0 to payload.length).foreach { n =>
        mustReturn(name, s"truncation to $n bytes", payload.take(n), decode)
      }
    }
  }

  test("every single-byte flip of a valid payload decodes without throwing") {
    codecs.foreach { case (name, payload, decode) =>
      payload.indices.foreach { i =>
        Seq(0xff.toByte, 0x01.toByte).foreach { v =>
          val m = payload.clone(); m(i) = (m(i) ^ v).toByte
          mustReturn(name, s"flip ^0x${(v & 0xff).toHexString} at offset $i", m, decode)
        }
      }
    }
  }

  test("seeded random multi-byte corruption decodes without throwing") {
    // CI default: seed 13, 400/codec — deterministic. Deep local hunts
    // set GRAFT_FUZZ_TRIALS / GRAFT_FUZZ_SEED (the round-13 hunt ran
    // 20000+/codec across seeds: found the BMP Int stride overflow at
    // default depth and the BMP Long stride*h overflow at 20k).
    val rng = new scala.util.Random(
      sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong).getOrElse(13L))
    val trials = sys.env.get("GRAFT_FUZZ_TRIALS").map(_.toInt).getOrElse(400)
    codecs.foreach { case (name, payload, decode) =>
      for (trial <- 1 to trials) {
        val m = payload.clone()
        val edits = 1 + rng.nextInt(8)
        for (_ <- 1 to edits) m(rng.nextInt(m.length)) = rng.nextInt(256).toByte
        mustReturn(name, s"random trial $trial", m, decode)
        // splice a random chunk of one codec's bytes into another's tail —
        // cross-container confusion a router bug would produce
        val donor = codecs(rng.nextInt(codecs.size))._2
        val cut = rng.nextInt(m.length)
        val spliced = m.take(cut) ++ donor.drop(rng.nextInt(donor.length))
        mustReturn(name, s"splice trial $trial at $cut", spliced, decode)
      }
    }
  }
}
