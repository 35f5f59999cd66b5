package graft

/** Local stand-in for the driver's t1 smoke: calls `SparkEntry.entry` and
  * prints the row count (driver checks rows > 0). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(Session.cpus)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"ENTRY_ROWS=$n")
    spark.stop()
  }
}
