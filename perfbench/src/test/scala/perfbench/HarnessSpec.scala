package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.ListenerBusAccess
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{AppendData, LogicalPlan, Project, Sort}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The timed action must run the plan users collect or write: with the
  * query's final sort and every projected column. `count()` does not. */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val fixtures = new File("fixtures/sf0.1").getAbsolutePath
  private var spark: SparkSession = _
  private val written = mutable.Buffer.empty[QueryExecution]
  private val listener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      written.synchronized(written += qe)
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
  }

  override def beforeAll(): Unit = {
    Files.createDirectories(new File(System.getProperty("java.io.tmpdir")).toPath)
    spark = Harness.session(2, Files.createTempDirectory("harness-spec").toString)
    spark.sparkContext.setLogLevel("WARN")
    spark.listenerManager.register(listener)
  }

  override def afterAll(): Unit = spark.stop()

  private def top(p: LogicalPlan): LogicalPlan = p match {
    case Project(_, child) => top(child)
    case other => other
  }

  for (name <- Seq("win_ranks", "agg_stats", "join_asof", "scalar_strings")) {
    test(s"$name: the timed plan keeps the final sort and projection") {
      val df = SparkEntry.queries(name)(spark, fixtures)
      written.synchronized(written.clear())
      val digest = Harness.materialize(df, s"spec-$name")
      ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
      val query = written.synchronized(written.toList)
        .flatMap(_.optimizedPlan.collectFirst { case a: AppendData => a.query })
        .headOption.getOrElse(fail("no write plan seen"))
      assert(top(query).isInstanceOf[Sort] && top(query).asInstanceOf[Sort].global)
      assert(query.output.map(_.name) == df.columns.toSeq)
      assert(digest.rows == df.collect().length)
      val counted = df.groupBy().count().queryExecution.optimizedPlan
      assert(counted.collectFirst { case s: Sort => s }.isEmpty,
        "count() was expected to prune the sort")
    }
  }

  test("the digest follows row order, not partitioning") {
    val df = spark.range(0, 1000, 1, 7).selectExpr("id", "cast(id * 3 as string) AS s").orderBy("id")
    val a = Harness.materialize(df, "spec-a")
    val b = Harness.materialize(df.coalesce(1), "spec-b")
    val c = Harness.materialize(df.orderBy(org.apache.spark.sql.functions.desc("id")), "spec-c")
    assert(a == b && a.rows == 1000)
    assert(c.rows == a.rows && c.hash != a.hash)
  }
}
