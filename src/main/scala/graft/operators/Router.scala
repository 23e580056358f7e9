package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Rule-based router: predicate filter + multicast + relabel (O-13).
  *
  * Semantics mirror the reference's `router::route`
  * (libdsp/libdsp/router.hpp:18-118) and its unit test
  * (libdsp/libdsp/router.test.cpp:8-22):
  *
  *   - each rule matches on `properties[field]` with an exact matcher;
  *   - `("*","*")` is the wildcard condition matching every message;
  *   - action `allow`: pass iff the value equals the rule value; a MISSING
  *     key drops (allow never passes absent evidence);
  *   - action `deny`: pass iff the value differs; a MISSING key passes
  *     (deny only blocks positive matches) — router.hpp:107-115;
  *   - every matching rule emits a COPY with `subject` rewritten to the
  *     rule's subject → one input row fans out to 0..N output rows.
  *
  * Spark-first design: rules compile to `Column` predicates BEFORE plan
  * construction (plain Scala, SURVEY.md §4.1) and the multicast is ONE
  * generator over the input: each row builds the array of its matching
  * rules' (subject, destination) pairs and explodes it — all inside
  * Catalyst, so codegen applies; no custom operator needed.
  */
object Router {

  val Wildcard = "*" // router.hpp:19

  sealed trait Action
  case object Allow extends Action
  case object Deny extends Action

  /** YAML twin: res/dsp.yaml:19-29. `matcher` is always `exact` in the
    * reference; kept for config fidelity.
    */
  final case class Rule(
      name: String,
      priority: Int,
      field: String,
      value: String,
      action: Action,
      destination: String,
      subject: String,
      matcher: String = "exact"
  )

  /** The reference's hardcoded rule set (router.hpp:41-68). */
  val referenceRules: Seq[Rule] = Seq(
    Rule("hb", 1, "type", "heartbeat", Allow, "main-nb", "heartbeats"),
    Rule("r2", 2, "type", "heartbeat", Deny, "main-nb", "dev-test")
  )

  /** Compile one rule's condition against a map column. */
  def matchExpr(rule: Rule, props: Column): Column = {
    if (rule.field == Wildcard && rule.value == Wildcard) lit(true)
    else {
      val v = element_at(props, rule.field)
      rule.action match {
        case Allow => v.isNotNull && v === rule.value
        case Deny  => v.isNull || v =!= rule.value
      }
    }
  }

  /** Route `df`: each row is copied once per matching rule (in priority
    * order), with `subjectCol` rewritten to the rule's subject and a
    * `destination` column added. One scan of `df`: every rule's match is
    * evaluated in a single projection (`when(match, (subject,
    * destination))` per rule) whose non-null entries explode into the
    * copies — a union of per-rule branches would scan the input, and
    * rebuild anything computed on it, once per rule.
    */
  def route(
      df: DataFrame,
      rules: Seq[Rule],
      propsCol: String = "properties",
      subjectCol: String = "subject"
  ): DataFrame = {
    require(rules.nonEmpty, "router needs at least one rule")
    val sorted = rules.sortBy(_.priority) // TODO in reference (router.hpp:44)
    val routes = array(sorted.map { r =>
      when(matchExpr(r, col(propsCol)), struct(lit(r.subject).as("subject"), lit(r.destination).as("destination")))
    }: _*)
    df.withColumn("__route", explode(routes))
      .filter(col("__route").isNotNull)
      .withColumn(subjectCol, col("__route.subject"))
      .withColumn("destination", col("__route.destination"))
      .drop("__route")
  }

  /** Drop accounting: rows matched by NO rule (the zero-copy fan-out case —
    * route may emit nothing, svc/handler.cpp:150-165 counts these as drops).
    */
  def dropped(df: DataFrame, rules: Seq[Rule], propsCol: String = "properties"): DataFrame = {
    // no rules → nothing matches → every row is dropped (route() requires
    // a non-empty rule set; drop ACCOUNTING of the empty set is well-defined)
    val any = rules
      .map(r => matchExpr(r, col(propsCol)))
      .reduceOption(_ || _)
      .getOrElse(org.apache.spark.sql.functions.lit(false))
    df.filter(!any)
  }
}
