package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** [[Scratch.lake]]'s publish contract without Spark: a failed build
  * publishes nothing, concurrent first callers share one finished lake, and
  * neither leaves a temp dir behind. */
class ScratchSpec extends AnyFunSuite {
  private def freshTag(): String = s"spec_${System.nanoTime()}_"

  /** Every tmpdir entry named like the lake: the lake itself plus any temp
    * sibling a build left behind. */
  private def entries(dir: String): Seq[String] = {
    val p = Paths.get(dir)
    val name = p.getFileName.toString
    Files.list(p.getParent).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith(name)).toSeq
  }

  private def deleteLake(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))

  test("a build that throws publishes nothing, leaves no temp dir, and the next call builds") {
    val tag = freshTag()
    val dir = Scratch.lakeDir(tag, "sf")
    val builds = new AtomicInteger(0)
    val err = intercept[IllegalStateException] {
      Scratch.lake(tag, "sf") { out =>
        builds.incrementAndGet()
        Files.write(Paths.get(out, "half"), Array[Byte](1))
        throw new IllegalStateException("interrupted build")
      }
    }
    assert(err.getMessage == "interrupted build")
    assert(entries(dir).isEmpty, "no final dir and no temp sibling")
    try {
      val got = Scratch.lake(tag, "sf") { out =>
        builds.incrementAndGet()
        Files.write(Paths.get(out, "done"), Array[Byte](1))
        ()
      }
      assert(got == dir && builds.get == 2)
      assert(Files.exists(Paths.get(dir, "done")) && !Files.exists(Paths.get(dir, "half")))
      assert(entries(dir) == Seq(Paths.get(dir).getFileName.toString))
      // Published: a later call returns it without building.
      assert(Scratch.lake(tag, "sf")(_ => fail("rebuilt a published lake")) == dir)
    } finally deleteLake(dir)
  }

  test("four concurrent first callers get the same complete lake and leave no temp dir") {
    val tag = freshTag()
    val dir = Scratch.lakeDir(tag, "sf")
    val start = new CountDownLatch(4)
    val builds = new AtomicInteger(0)
    val parts = (0 until 10).map(i => s"part_$i")
    def build(id: Int)(out: String): Unit = {
      builds.incrementAndGet()
      parts.foreach { p => Files.write(Paths.get(out, p), Array[Byte](1)); Thread.sleep(20) }
      Files.write(Paths.get(out, "owner"), id.toString.getBytes("UTF-8"))
      ()
    }
    val results = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = (0 until 4).map { id =>
      new Thread(() =>
        try { start.countDown(); start.await(); results.put(id, Scratch.lake(tag, "sf")(build(id))); () }
        catch { case t: Throwable => failure.compareAndSet(null, t); () })
    }
    try {
      threads.foreach(_.start()); threads.foreach(_.join(60000))
      if (failure.get() != null) throw failure.get()
      assert(results.values().asScala.toSet == Set(dir), "every caller gets the one lake")
      assert(builds.get >= 1)
      val listed = Files.list(Paths.get(dir)).iterator().asScala
        .map((p: Path) => p.getFileName.toString).toSet
      assert(listed == parts.toSet + "owner", "the published lake is one complete build")
      val owner = new String(Files.readAllBytes(Paths.get(dir, "owner")), "UTF-8").toInt
      assert((0 until 4).contains(owner))
      assert(entries(dir) == Seq(Paths.get(dir).getFileName.toString), "no temp sibling remains")
    } finally deleteLake(dir)
  }
}
