package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across all suites (getOrCreate reuses). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  val sfDir = "/root/testdata/sf0.001"

  /** Does any physical node satisfy `p`, recursing THROUGH AQE query-stage
    * boundaries (QueryStageExec is a leaf whose materialized subtree lives
    * in a field, so a plain `exists` never sees inside committed stages).
    */
  def planExists(
      plan: org.apache.spark.sql.execution.SparkPlan
  )(p: org.apache.spark.sql.execution.SparkPlan => Boolean): Boolean =
    plan.exists {
      case n if p(n) => true
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        planExists(a.executedPlan)(p)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        planExists(q.plan)(p)
      case _ => false
    }

  /** Every physical node of `plan`, recursing through AQE query stages,
    * subqueries, command wrappers and cached relations. With `throughBroadcasts = false` the
    * walk stops at broadcast exchanges, so it yields the nodes whose rows
    * flow into `plan`'s own output (what a shuffle above them would move).
    */
  def planNodes(
      plan: org.apache.spark.sql.execution.SparkPlan,
      throughBroadcasts: Boolean = true
  ): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution._
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: adaptive.AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: adaptive.QueryStageExec        => walk(q.plan)
      case c: CommandResultExec              => walk(c.commandPhysicalPlan)
      case m: columnar.InMemoryTableScanExec => walk(m.relation.cachedPlan)
      case _: exchange.BroadcastExchangeLike if !throughBroadcasts => Nil
      case _ => p.children.flatMap(walk) ++ (if (throughBroadcasts) p.subqueries.flatMap(walk) else Nil)
    })
    walk(plan)
  }

  /** Is `p` a parquet scan whose root path lies under `dir`? */
  def isScanUnder(p: org.apache.spark.sql.execution.SparkPlan, dir: String): Boolean = p match {
    case s: org.apache.spark.sql.execution.FileSourceScanExec =>
      s.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(dir))
    case _ => false
  }

  /** The parquet scans in `plan` whose root path lies under `dir`. */
  def scansUnder(
      plan: org.apache.spark.sql.execution.SparkPlan,
      dir: String
  ): Seq[org.apache.spark.sql.execution.SparkPlan] =
    planNodes(plan).filter(isScanUnder(_, dir))

  /** Is some shuffle in `plan` fed by rows of a scan under `dir` (not just
    * by rows joined against a broadcast of them)?
    */
  def shufflesScanUnder(plan: org.apache.spark.sql.execution.SparkPlan, dir: String): Boolean =
    planNodes(plan).exists {
      case x: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
        planNodes(x, throughBroadcasts = false).exists(isScanUnder(_, dir))
      case _ => false
    }

  /** Spark jobs fired by `f`, counted by a listener on a job group of its own. */
  def jobsOf(f: => Unit): Int = {
    val group = s"job-budget-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet(); ()
        }
    }
    org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext, 10000L)
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "job budget")
      try f
      finally spark.sparkContext.clearJobGroup()
      org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext, 10000L)
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val b = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
    graft.sources.Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
