package perfbench

import graft.SparkEntry
import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, V2WriteCommand}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

class RegistryActionSpec extends AnyFunSuite {
  /** The smallest corpus of TESTDATA.md. */
  private val sfDir = s"${sys.props("user.home")}/testdata/sf0.001"
  private lazy val spark = BenchSession.build(2,
    java.nio.file.Files.createTempDirectory("perfbench-spec"))

  /** The optimized plan of the next query execution Spark reports. */
  private def capture(action: => Unit): QueryExecution = {
    val seen = new AtomicReference[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.compareAndSet(null, qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      action
      val deadline = System.currentTimeMillis() + 30000
      while (seen.get == null && System.currentTimeMillis() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    assert(seen.get != null, "no query execution was reported")
    seen.get
  }

  private def writtenQuery(qe: QueryExecution): LogicalPlan =
    qe.optimizedPlan.collectFirst { case w: V2WriteCommand => w.query }
      .getOrElse(fail(s"not a V2 write:\n${qe.optimizedPlan}"))

  test("the registry's timed action runs the query's own optimized plan, unpruned") {
    for (q <- Seq("text_char_dedup", "f1_agg_pricing")) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      val full = df.queryExecution.optimizedPlan
      val timed = writtenQuery(capture(RegistryWorkload.materialize(df)))
      assert(timed.canonicalized == full.canonicalized, s"$q: timed plan\n$timed\nvs\n$full")
    }
  }

  test("count() prunes the plan the registry times, which is why it is not the timed action") {
    val df = SparkEntry.queries("text_char_dedup")(spark, sfDir)
    val counted = df.groupBy().count().queryExecution.optimizedPlan
    assert(counted.treeString.length < df.queryExecution.optimizedPlan.treeString.length / 2)
  }

  test("SPARK_GRAFT_CPUS must be a positive integer") {
    assert(BenchSession.cores(Map("SPARK_GRAFT_CPUS" -> "3")) == 3)
    assert(BenchSession.cores(Map.empty) == Runtime.getRuntime.availableProcessors)
    for (bad <- Seq("*", "0", "-2", "four", "", "2.5", "9999999"))
      assertThrows[IllegalArgumentException](BenchSession.cores(Map("SPARK_GRAFT_CPUS" -> bad)))
  }
}
