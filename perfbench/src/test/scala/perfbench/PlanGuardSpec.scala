package perfbench

import java.nio.file.Files

import scala.sys.process._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort, V2WriteCommand}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Guards what the benchmark times: the plan its `materialize` runs must
  * keep the query's final Sort and every projected column. A `.count()`
  * would let Catalyst drop both, and the benchmark would time less than a
  * consumer of the query pays. */
class PlanGuardSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val data: String = {
    val d = Files.createTempDirectory("perfbench_guard").toString
    val script = Seq("gen.py", "perfbench/gen.py").find(p => new java.io.File(p).exists)
      .getOrElse(sys.error("gen.py not found"))
    require(Seq("python3", script, d, "--seed", "7", "--sf", "0.001").! == 0, "input generation failed")
    d
  }

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  /** The optimized plan of the query a write runs, captured as it runs. */
  private def writtenQuery(df: DataFrame)(write: DataFrame => Any): LogicalPlan = {
    var seen: Option[LogicalPlan] = None
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = qe.optimizedPlan match {
        case w: V2WriteCommand => seen = Some(w.query)
        case _ =>
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      write(df)
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    seen.getOrElse(fail("no write command was executed"))
  }

  private def topSort(p: LogicalPlan): Option[Sort] = p match {
    case s: Sort => Some(s)
    case Project(_, child) => topSort(child)
    case _ => None
  }

  private def assertKeepsResult(name: String, df: DataFrame): Unit = {
    val own = df.queryExecution.optimizedPlan
    val timed = writtenQuery(df)(Workloads.materialize)
    assert(timed.output.map(_.name) == df.columns.toSeq, s"$name lost columns")
    topSort(own).foreach { s =>
      val kept = topSort(timed)
      assert(kept.exists(_.order.map(_.sql) == s.order.map(_.sql)), s"$name lost its final Sort")
    }
  }

  test("every timed query and operator keeps its final Sort and all columns") {
    val ops = Workloads.queryMixNames ++ Workloads.corpusOps.map(_._1)
    var sorted = 0
    for (n <- ops) {
      val df = graft.SparkEntry.queries(n)(spark, data)
      if (topSort(df.queryExecution.optimizedPlan).nonEmpty) sorted += 1
      assertKeepsResult(n, df)
    }
    assert(sorted > 0, "no timed query ends in a Sort, so the guard checks nothing")
  }

  test("a full table-format scan keeps every column") {
    val base = Files.createTempDirectory("perfbench_guard_table").toString + "/t"
    graft.ext.Manifests.commitData(spark.read.parquet(s"$data/orders.parquet"), base)
    assertKeepsResult("scan", graft.ext.Manifests.readLatest(spark, base))
  }

  test("the guard catches count-style pruning") {
    val df = graft.SparkEntry.queries("q_running_revenue")(spark, data)
    assert(topSort(df.queryExecution.optimizedPlan).nonEmpty)
    val counted = df.groupBy().count().queryExecution.optimizedPlan
    assert(counted.find(_.isInstanceOf[Sort]).isEmpty)
    assert(counted.output.map(_.name) != df.columns.toSeq)
  }
}
