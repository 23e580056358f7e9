package graft

import org.apache.spark.sql.functions._

import graft.operators.GraphOps

class GraphOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def prMap(edges: Seq[(Long, Long)], iters: Int): Map[Long, Double] =
    GraphOps
      .pageRank(edges.toDF("src", "dst"), iters)
      .collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
      .toMap

  test("pageRank: 3-cycle stays uniform at every iteration") {
    val pr = prMap(Seq((0L, 1L), (1L, 2L), (2L, 0L)), iters = 4)
    assert(pr.size == 3)
    pr.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-12))
  }

  test("pageRank matches a hand-rolled reference on a graph with a dangling node and a hub") {
    // 0→1, 0→2, 1→2, 2→0, 3→2 ; node 4 is reachable only as a dst (4 never
    // appears — add 1→4 so the node set includes a TRUE dangling node).
    // Self-loops are outlinks: 5's only link is to itself, and 0 links to
    // itself besides 1 and 2 — neither is dangling.
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L), (3L, 2L), (1L, 4L), (3L, 5L), (5L, 5L), (0L, 0L))
    val got = prMap(edges, iters = 5)

    // driver-side replay of the exact formula
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).distinct.size }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.size
    var pr = nodes.map(_ -> 1.0 / n).toMap
    val d = 0.85
    for (_ <- 1 to 5) {
      val dm = nodes.filterNot(out.contains).map(pr).sum
      val contribs = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map(e => pr(e._1) / out(e._1)).sum
      }
      pr = nodes.map(v => v -> ((1.0 - d) / n + d * (contribs.getOrElse(v, 0.0) + dm / n))).toMap
    }
    assert(got.keySet == pr.keySet)
    got.foreach { case (id, v) => assert(math.abs(v - pr(id)) < 1e-12, s"node $id") }
  }

  test("pageRank and bradleyTerry: job budget of the setup and of one round") {
    // 600 pages linking to two others each, every tenth page to none
    val edges = spark.range(0L, 600L).where(col("id") % 10 =!= 0).select(
      col("id").as("src"), explode(array((col("id") * 7 + 1) % 600, (col("id") * 13 + 5) % 600)).as("dst"))
    // 2,000 comparisons among 50 items
    val comps = spark.range(0L, 2000L).select((col("id") % 50).as("winner"), ((col("id") * 7 + 3) % 50).as("loser"))
    def pr(iters: Int): Int = jobsOf { GraphOps.pageRank(edges, iters); () }
    def bt(iters: Int): Int = jobsOf { graft.operators.ChatOps.bradleyTerry(comps, iters); () }
    pr(1); bt(1) // warm-up
    val (pr0, pr1, pr2) = (pr(0), pr(1), pr(2))
    val (bt0, bt1, bt2) = (bt(0), bt(1), bt(2))
    val got = Map("pageRank setup" -> pr0, "pageRank round" -> math.max(pr1 - pr0, pr2 - pr1),
      "bradleyTerry setup" -> bt0, "bradleyTerry iteration" -> math.max(bt1 - bt0, bt2 - bt1))
    info(s"jobs: $got")
    // each budget is the worst count measured: AQE turns every exchange
    // inside a pin into a job of its own, so a pin or join added to the
    // setup or the loop shows here
    val budgets = Map("pageRank setup" -> 5, "pageRank round" -> 7, "bradleyTerry setup" -> 6,
      "bradleyTerry iteration" -> 10)
    val checks = new org.scalatest.Checkpoints.Checkpoint
    budgets.foreach { case (name, budget) =>
      checks(assert(got(name) <= budget, s"$name fired ${got(name)} jobs (budget $budget)"))
    }
    checks.reportAll()
  }

  test("pageRank conserves total mass (sums to 1) with dangling redistribution") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (0L, 4L)) // 4 dangles
    val total = GraphOps
      .pageRank(edges.toDF("src", "dst"), iters = 6)
      .agg(sum("pr"))
      .head()
      .getDouble(0)
    assert(math.abs(total - 1.0) < 1e-9)
  }

  test("pageRank deduplicates parallel edges") {
    // duplicate 0→1 must not double 0's endorsement of 1
    val a = prMap(Seq((0L, 1L), (0L, 1L), (0L, 2L), (1L, 0L), (2L, 0L)), iters = 3)
    val b = prMap(Seq((0L, 1L), (0L, 2L), (1L, 0L), (2L, 0L)), iters = 3)
    a.foreach { case (id, v) => assert(math.abs(v - b(id)) < 1e-15) }
  }

  test("hits matches a hand-rolled reference; pure-hub and pure-authority nodes separate") {
    // 0,1,2 all point at 3 and 4 (hubs vs authorities); 4→0 closes a loop.
    val edges = Seq((0L, 3L), (0L, 4L), (1L, 3L), (1L, 4L), (2L, 3L), (4L, 0L))
    val got = GraphOps
      .hits(edges.toDF("src", "dst"), iters = 3)
      .collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap

    // driver replay of the exact half-step/L1 formulation
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    var hub = nodes.map(_ -> 1.0).toMap
    var auth = nodes.map(_ -> 1.0).toMap
    for (_ <- 1 to 3) {
      val aRaw = nodes.map(v => v -> edges.filter(_._2 == v).map(e => hub(e._1)).sum).toMap
      val ta = aRaw.values.sum
      auth = aRaw.map { case (v, a) => v -> a / ta }
      val hRaw = nodes.map(u => u -> edges.filter(_._1 == u).map(e => auth(e._2)).sum).toMap
      val th = hRaw.values.sum
      hub = hRaw.map { case (u, h) => u -> h / th }
    }
    nodes.foreach { v =>
      assert(math.abs(got(v)._1 - hub(v)) < 1e-12, s"hub $v")
      assert(math.abs(got(v)._2 - auth(v)) < 1e-12, s"auth $v")
    }
    assert(got(2L)._2 == 0.0) // nothing points at 2: pure hub
    assert(got(3L)._1 == 0.0) // 3 points at nothing: pure authority
  }

  test("linkAudit: raw vs distinct, self-loops, reciprocal pairs once, max out-degree") {
    val edges = Seq(
      (0L, 1L), (0L, 1L), // duplicate
      (1L, 0L),           // reciprocates (0,1)
      (2L, 2L),           // self-loop
      (0L, 3L), (0L, 4L), (0L, 5L)
    )
    val got = GraphOps
      .linkAudit(edges.toDF("src", "dst"), pmod(col("src"), lit(10)))
      .as[(Long, Long, Long, Long, Long, Long)]
      .collect()
      .map(r => r._1 -> r)
      .toMap
    assert(got(0L) == ((0L, 5L, 4L, 0L, 1L, 4L))) // bucket 0: 5 raw, 4 distinct, recip (0,1), outdeg 4
    assert(got(1L) == ((1L, 1L, 1L, 0L, 0L, 1L))) // (1,0): src>dst so pair counted in bucket 0 only
    assert(got(2L) == ((2L, 1L, 1L, 1L, 0L, 1L))) // self-loop
  }

  test("null endpoints: dropped by analytics, surfaced by the audit, never a resolved-null redirect") {
    val withNulls = Seq(
      (java.lang.Long.valueOf(0L), java.lang.Long.valueOf(1L)),
      (java.lang.Long.valueOf(1L), java.lang.Long.valueOf(0L)),
      (java.lang.Long.valueOf(2L), null.asInstanceOf[java.lang.Long]),
      (null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(0L))
    ).toDF("src", "dst")
    // pageRank/hits: the null-endpoint edges vanish; mass still sums to 1
    val pr = GraphOps.pageRank(withNulls, 2)
    assert(pr.count() == 2 && math.abs(pr.agg(sum("pr")).head().getDouble(0) - 1.0) < 1e-12)
    val sc = GraphOps.hits(withNulls, 2)
    assert(sc.count() == 2)
    // redirects: src 2's null target must NOT come back resolved-with-null
    val res = GraphOps.resolveRedirects(withNulls, 4).collect().map(r => r.getLong(0)).toSet
    assert(res == Set(0L, 1L)) // the null-dst source is dropped, not fabricated
    // audit: nulls surface under a null bucket instead of vanishing
    val audit = GraphOps
      .linkAudit(withNulls, pmod(col("src"), lit(10)))
      .collect()
    assert(audit.exists(_.isNullAt(0)), "null-src row must appear as a null bucket")
  }

  test("resolveRedirects: chains resolve in log rounds, cycles and over-long chains flag unresolved") {
    // chain 5→4→3→2→1→0 (length 5), cycle 10↔11, duplicate src 20
    val redirects = Seq(
      (5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L), (1L, 0L),
      (10L, 11L), (11L, 10L),
      (20L, 21L), (20L, 22L) // duplicate source: min(dst) wins
    )
    val got = GraphOps
      .resolveRedirects(redirects.toDF("src", "dst"), maxSteps = 8)
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getBoolean(2)))
      .toMap
    Seq(5L, 4L, 3L, 2L, 1L).foreach(s => assert(got(s) == (Some(0L), true), s"chain $s"))
    assert(got(10L) == (None, false))
    assert(got(11L) == (None, false))
    assert(got(20L) == (Some(21L), true))

    // the maxSteps policy bound is EXACT (true hop depth is tracked, so
    // the doubling rounds can't over-honor the bound): depth 4 resolves,
    // depth 5 flags, depth 19 flags
    val long = (1 until 20).map(i => (i.toLong, (i - 1).toLong))
    val got2 = GraphOps
      .resolveRedirects(long.toDF("src", "dst"), maxSteps = 4)
      .collect()
      .map(r => r.getLong(0) -> r.getBoolean(2))
      .toMap
    assert(got2(3L) && got2(4L), "chains within maxSteps resolve")
    assert(!got2(5L), "depth maxSteps+1 must flag unresolved (exact bound)")
    assert(!got2(19L), "over-long chain must flag unresolved")
  }

  test("anchors pairs each href with its trimmed link text; nested-markup anchors don't match") {
    val df = Seq(
      (1L, """<a href="https://a/x">  Go here </a><A HREF="https://b/y">see</A>
             |<a href="https://c/z"><b>nested</b></a><a>no href</a>""".stripMargin)
    ).toDF("id", "html")
    val got = GraphOps
      .anchors(df, col("id"), col("html"))
      .as[(Long, String, String)]
      .collect()
      .toSet
    assert(got == Set((1L, "https://a/x", "Go here"), (1L, "https://b/y", "see")))
  }

  test("htmlLinks extracts every href occurrence in document order semantics") {
    val df = Seq(
      (1L, """<html><a href="https://a/x">A</a><a class="z" HREF="https://b/y">B</a>
             |<a href="https://a/x">dup</a><p>no <b>links</b> here</p></html>""".stripMargin),
      (2L, "<p>none</p>")
    ).toDF("id", "html")
    val links = GraphOps
      .htmlLinks(df, col("id"), col("html"))
      .as[(Long, String)]
      .collect()
      .toSeq
    assert(links.count(_._1 == 1L) == 3)
    assert(links.count(_ == (1L, "https://a/x")) == 2)
    assert(links.count(_ == (1L, "https://b/y")) == 1)
    assert(!links.exists(_._1 == 2L))
  }

  test("triangleStats: K4, plain triangle, triangle-free square; dups/direction/self-loops ignored") {
    val edges = Seq(
      // triangle 1-2-3, with a duplicate and a reversed edge thrown in
      (1L, 2L), (2L, 3L), (3L, 1L), (1L, 2L), (2L, 1L),
      // square 4-5-6-7: degree 2 everywhere, zero triangles
      (4L, 5L), (5L, 6L), (6L, 7L), (7L, 4L),
      // K4 on 8..11: 4 triangles, 3 per node
      (8L, 9L), (8L, 10L), (8L, 11L), (9L, 10L), (9L, 11L), (10L, 11L),
      // self-loop must not fabricate anything
      (1L, 1L)
    ).toDF("src", "dst")
    val got = GraphOps.triangleStats(edges).collect()
    val m = got.map(r => r.getAs[Long]("node_id") -> r).toMap
    assert(got.length == 11)
    for (id <- Seq(1L, 2L, 3L)) {
      assert(m(id).getAs[Long]("degree") == 2 && m(id).getAs[Long]("n_triangles") == 1)
      assert(m(id).getAs[Double]("clustering") == 1.0)
    }
    for (id <- Seq(4L, 5L, 6L, 7L)) {
      assert(m(id).getAs[Long]("n_triangles") == 0 && m(id).getAs[Double]("clustering") == 0.0)
    }
    for (id <- Seq(8L, 9L, 10L, 11L)) {
      assert(m(id).getAs[Long]("degree") == 3 && m(id).getAs[Long]("n_triangles") == 3)
      assert(m(id).getAs[Double]("clustering") == 1.0)
    }
  }
}
