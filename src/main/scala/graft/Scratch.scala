package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Scratch space for queries that write files, in two lifetimes.
  * Run-scoped ([[root]], [[fresh]]): stream sinks and checkpoints, lake
  * rewrite epochs and logs, dedup state. One temp directory per JVM,
  * created on first use and deleted by one shutdown hook, so repeated runs
  * never accumulate tmp litter and two processes sharing a tmpdir never
  * share a path. Cross-run ([[lake]]): read-only lakes derived from a
  * fixture dir, cached in the tmpdir and reused by later runs. */
object Scratch {
  private val seq = new java.util.concurrent.atomic.AtomicLong(0)

  private def deleteRec(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(deleteRec)
    f.delete(): Unit
  }

  lazy val root: String = {
    val dir = Files.createTempDirectory("graft_run_").toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRec(dir)))
    dir.getAbsolutePath
  }

  /** A new path under [[root]], unique per call. Outputs a query mutates
    * must be unique per INVOCATION: two live DataFrames from two
    * invocations would otherwise race overwrite-vs-lazy-read on the same
    * files (Spark caches the file listing at plan time, so the second
    * invocation's overwrite strands the first plan on deleted paths). */
  def fresh(tag: String): String = s"$root/${tag}_${seq.incrementAndGet()}"

  /** Where [[lake]] publishes lake `tag` of fixture dir `sf`. */
  def lakeDir(tag: String, sf: String): String =
    Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_lake_$tag${sf.replaceAll("[^a-zA-Z0-9.]", "_")}").toString

  /** The cached lake `tag` of fixture dir `sf`. On first use `build`
    * writes it into a fresh sibling temp dir, which one atomic rename
    * publishes as [[lakeDir]], so that directory existing means a finished
    * lake. A build that throws publishes nothing; concurrent first callers
    * each build, and a loser drops its copy and returns the winner's. Paths
    * under the temp dir die with the rename: record file paths in a second
    * lake built over the published one. */
  def lake(tag: String, sf: String)(build: String => Unit): String = {
    val dir = Paths.get(lakeDir(tag, sf))
    if (!Files.isDirectory(dir)) {
      val tmp = Files.createTempDirectory(dir.getParent, s"${dir.getFileName}.building_")
      try {
        build(tmp.toString)
        try Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.io.IOException if Files.isDirectory(dir) => () }
      } finally deleteRec(tmp.toFile)
    }
    dir.toString
  }
}
