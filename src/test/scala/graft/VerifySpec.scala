package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** `Verify.dump`, the correctness dump, on a name subset. */
class VerifySpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  test("dump with names writes exactly those results and their oracle SQL") {
    val (gated, rowsOnly) = ("q1_pricing_summary", "set_tablesample")
    assert(SparkEntry.oracleSql.contains(gated) && !SparkEntry.oracleSql.contains(rowsOnly))
    val out = Files.createTempDirectory("graft-verify")
    try {
      Verify.dump(TestSpark.spark, TestSpark.sf, out.toString, Seq(gated, rowsOnly))
      val dirs = Files.list(out).iterator.asScala.filter(Files.isDirectory(_))
      assert(dirs.map(_.getFileName.toString).toSet == Set(gated, rowsOnly))
      val oracle = mapper.readTree(out.resolve("oracle_sql.json").toFile)
      assert(oracle.fieldNames.asScala.toSeq == Seq(gated))
      assert(oracle.get(gated).asText == SparkEntry.oracleSql(gated))
    } finally Files.walk(out).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
  }

  test("jsonString escapes quotes, backslashes and control characters") {
    val s = "a\tb\rc\"d\\e\u0001f\ng"
    val lit = Verify.jsonString(s)
    assert(!lit.exists(_ < ' ') && mapper.readTree(lit).asText == s)
  }
}
