package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare (`tools/rehearse.py`).
  * Usage: runMain graft.Verify <sfDir> <outDir> [query…] — with names,
  * only those queries and their oracle entries are dumped. */
object Verify {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(Session.cpus)
    try dump(spark, args(0), args(1), args.drop(2).toSeq)
    finally spark.stop()
  }

  /** Writes `<out>/<name>` parquet for each named query (all of them when
    * `names` is empty) and `<out>/oracle_sql.json` holding their oracle
    * SQL. A failing query is reported and skipped ([[Run.sweep]]); an
    * unknown name throws. */
  def dump(spark: SparkSession, sf: String, out: String, names: Seq[String]): Unit = {
    val selected = if (names.isEmpty) SparkEntry.queries.toSeq else Run.named(names)
    new java.io.File(out).mkdirs()
    Run.sweep(spark, sf, selected, action = (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name"))
    val json = SparkEntry.oracleSql.filter(kv => names.isEmpty || names.contains(kv._1))
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), json)
  }

  /** JSON string literal: backslash, quote, and ALL control chars (<0x20)
    * escaped — a tab or CR in builder-authored SQL would otherwise make the
    * oracle compare's json.load fail and silently skip every check. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
