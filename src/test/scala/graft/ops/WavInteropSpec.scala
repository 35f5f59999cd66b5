package graft.ops

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Stock-JDK interop for the WAV rung of the codec ladder, completing the
  * story the image rungs already have (ImageIO both directions in
  * Round10Spec/GifSpec/JpegSpec): `javax.sound.sampled.AudioSystem` must
  * read [[Multimodal.audioAssets]] payloads (proving the writer emits
  * real RIFF/WAVE, not a private dialect — including the odd-size LIST
  * chunk + pad byte the RIFF spec requires readers to skip), and
  * [[Multimodal.decodePcm]] must read an AudioSystem-WRITTEN file
  * (a foreign writer whose chunk layout we don't control). Sample
  * statistics are compared EXACTLY — PCM integer decode has no lossy
  * step, so any container-walk or sample-extraction slip is a hard
  * mismatch, not drift. */
class WavInteropSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem}

  /** Per-channel (sum, sq, peak) from raw PCM frames under the FORMAT'S
    * own field values — an independent reader path from decodePcm. */
  private def stats(data: Array[Byte], fmt: AudioFormat): Seq[(Long, Long, Long)] = {
    val ch = fmt.getChannels
    val bps = fmt.getSampleSizeInBits / 8
    val frameBytes = fmt.getFrameSize
    assert(frameBytes == ch * bps)
    val unsigned = fmt.getEncoding == AudioFormat.Encoding.PCM_UNSIGNED
    val n = data.length / frameBytes
    (0 until ch).map { c =>
      var sum = 0L; var sq = 0L; var peak = 0L
      var i = 0
      while (i < n) {
        val p = i * frameBytes + c * bps
        val v: Long =
          if (bps == 1) {
            if (unsigned) (data(p) & 0xff).toLong - 128L else data(p).toLong
          } else if (fmt.isBigEndian)
            ((data(p) << 8) | (data(p + 1) & 0xff)).toShort.toLong
          else ((data(p + 1) << 8) | (data(p) & 0xff)).toShort.toLong
        sum += v; sq += v * v
        val a = math.abs(v); if (a > peak) peak = a
        i += 1
      }
      (sum, sq, peak)
    }
  }

  test("AudioSystem reads audioAssets payloads; sample stats match decodePcm exactly") {
    val payloads = Multimodal.audioAssets(spark, TestSpark.sf)
      .orderBy("doc_id").limit(12).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload"))
    assert(payloads.nonEmpty)
    payloads.foreach { case (id, bytes) =>
      val ours = Multimodal.decodePcm(bytes)
      assert(ours.nonEmpty, s"doc $id: our decoder must accept its own asset")
      val ais: AudioInputStream = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = ais.getFormat
      assert(fmt.getChannels == ours.size, s"doc $id channels")
      assert(fmt.getSampleRate.toInt == ours.head._2, s"doc $id sample rate")
      val frames = ais.getFrameLength
      val theirs = stats(ais.readAllBytes(), fmt)
      ais.close()
      ours.zip(theirs).foreach { case ((c, _, n, sum, sq, peak), (s2, q2, p2)) =>
        assert(n == frames, s"doc $id ch $c frame count: $n vs AudioSystem $frames")
        assert(sum == s2, s"doc $id ch $c sum: $sum vs AudioSystem $s2")
        assert(sq == q2, s"doc $id ch $c sq")
        assert(peak == p2, s"doc $id ch $c peak")
      }
    }
  }

  test("decodePcm reads AudioSystem-written WAVs (foreign writer, both depths)") {
    val rng = new scala.util.Random(9L)
    // 16-bit signed stereo LE
    val n16 = 500
    val s16 = Array.fill(2 * n16)((rng.nextInt(65536) - 32768).toShort)
    val b16 = java.nio.ByteBuffer.allocate(s16.length * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    s16.foreach(b16.putShort)
    val f16 = new AudioFormat(8000f, 16, 2, true, false)
    val out16 = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
      new java.io.ByteArrayInputStream(b16.array()), f16, n16.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out16)
    val dec16 = Multimodal.decodePcm(out16.toByteArray)
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
    val f8 = new AudioFormat(16000f, 8, 1, false, false)
    val out8 = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
      new java.io.ByteArrayInputStream(raw8), f8, n8.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out8)
    val dec8 = Multimodal.decodePcm(out8.toByteArray)
    assert(dec8.size == 1, "8-bit mono must decode")
    val vals8 = raw8.map(b => (b & 0xff).toLong - 128L)
    val (_, sr8, n8got, sum8, sq8, peak8) = dec8.head
    assert(sr8 == 16000 && n8got == n8.toLong)
    assert(sum8 == vals8.sum && sq8 == vals8.map(v => v * v).sum &&
      peak8 == vals8.map(math.abs).max, "8-bit stats vs source samples")
  }
}
