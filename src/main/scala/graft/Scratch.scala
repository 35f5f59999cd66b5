package graft

/** Run-scoped scratch space for queries that write files: stream sinks and
  * checkpoints, lake rewrite epochs and logs, dedup state. One temp
  * directory per JVM, created on first use and deleted by one shutdown
  * hook, so repeated runs never accumulate tmp litter and two processes
  * sharing a tmpdir never share a path. */
object Scratch {
  private val seq = new java.util.concurrent.atomic.AtomicLong(0)

  private def deleteRec(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(deleteRec)
    f.delete(): Unit
  }

  lazy val root: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_run_").toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRec(dir)))
    dir.getAbsolutePath
  }

  /** A new path under [[root]], unique per call. Outputs a query mutates
    * must be unique per INVOCATION: two live DataFrames from two
    * invocations would otherwise race overwrite-vs-lazy-read on the same
    * files (Spark caches the file listing at plan time, so the second
    * invocation's overwrite strands the first plan on deleted paths). */
  def fresh(tag: String): String = s"$root/${tag}_${seq.incrementAndGet()}"
}
