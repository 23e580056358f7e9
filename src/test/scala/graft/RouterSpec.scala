package graft

import org.apache.spark.sql.functions._

import graft.operators.Router
import graft.operators.Router._

/** Port of the reference's only unit test (libdsp/libdsp/router.test.cpp:8-22)
  * plus the documented missing-key/wildcard semantics (router.hpp:70-115;
  * FIXTURES.md §3).
  */
class RouterSpec extends SparkTestBase {

  private def msgs(props: Map[String, String]*) = {
    import spark.implicits._
    props.zipWithIndex
      .map { case (p, i) => (i.toLong, p) }
      .toDF("id", "properties")
  }

  private def subjectsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Set[String]] =
    Router
      .route(df, Router.referenceRules)
      .select(col("id"), col("subject"))
      .collect()
      .groupBy(_.getLong(0))
      .view
      .mapValues(_.map(_.getString(1)).toSet)
      .toMap
      .withDefaultValue(Set.empty)

  test("reference fixture: empty props → [dev-test] (deny passes on missing key)") {
    assert(subjectsOf(msgs(Map.empty))(0L) == Set("dev-test"))
  }

  test("reference fixture: type=heartbeat → [heartbeats] (allow passes, deny blocks)") {
    assert(subjectsOf(msgs(Map("type" -> "heartbeat")))(0L) == Set("heartbeats"))
  }

  test("type=other → [dev-test] (allow drops, deny passes)") {
    assert(subjectsOf(msgs(Map("type" -> "other")))(0L) == Set("dev-test"))
  }

  test("wildcard rule matches everything, multicast produces copies") {
    val rules = referenceRules :+ Rule("all", 3, "*", "*", Allow, "audit", "mirror")
    val out = Router
      .route(msgs(Map("type" -> "heartbeat"), Map.empty), rules)
      .select(col("id"), col("subject"))
      .collect()
      .groupBy(_.getLong(0))
      .view
      .mapValues(_.map(_.getString(1)).toSet)
      .toMap
    assert(out(0L) == Set("heartbeats", "mirror"))
    assert(out(1L) == Set("dev-test", "mirror"))
  }

  test("dropped() accounts rows matched by no rule (route may emit zero copies)") {
    val rules = Seq(Rule("only-hb", 1, "type", "heartbeat", Allow, "nb", "heartbeats"))
    val df = msgs(Map("type" -> "heartbeat"), Map("type" -> "other"), Map.empty)
    val dropped = Router.dropped(df, rules).select(col("id")).collect().map(_.getLong(0)).toSet
    assert(dropped == Set(1L, 2L))
  }

  test("rules apply in priority order output (sorted by priority, router.hpp TODO)") {
    val shuffled = referenceRules.reverse
    val a = Router.route(msgs(Map("type" -> "x")), shuffled).select(col("subject")).collect().map(_.getString(0)).toSeq
    assert(a == Seq("dev-test"))
  }

  test("route scans its input once however many rules match (the service's 3 rules over parquet)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-route-scan").toString + "/frames"
    Seq(
      (1L, Map("type" -> "heartbeat")), (2L, Map("type" -> "dyn_message")), (3L, Map.empty[String, String])
    ).toDF("id", "properties").withColumn("subject", lit("in")).write.parquet(dir)
    val yaml = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("perfbench/service.yaml")), "UTF-8")
      .replace("${PORT}", "0").replace("${STORE}", "/unused")
    val rules = graft.runtime.GraftService.parseConfig(yaml).rules
    assert(rules.size == 3)
    val routed = Router.route(spark.read.parquet(dir), rules)
    val plan = routed.queryExecution.executedPlan
    val scans = planNodes(plan).filter(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
    assert(scans.size == 1, s"expected one scan, planned ${scans.size}:\n$plan")
    // the same multiset as one filtered copy per matching rule
    val got = routed.select(col("id"), col("subject"), col("destination")).as[(Long, String, String)].collect().sorted.toSeq
    assert(got == Seq(
      (1L, "all", "audit-nb"), (1L, "heartbeats", "kafka-nb"),
      (2L, "all", "audit-nb"), (2L, "graft-events", "kafka-nb"),
      (3L, "all", "audit-nb")
    ))
  }
}
