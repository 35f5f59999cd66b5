package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (cheap, avoids per-suite JVM
  * restarts; `local[4]` mirrors the driver's verify config). */
object TestSpark {
  lazy val spark: SparkSession = Session.local(4)
  val sf: String = "/root/testdata/sf0.001"
}
