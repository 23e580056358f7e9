package graft

import org.apache.spark.sql.functions._

import graft.operators.{ConnectedComponents, CorpusOps, Dedup, TextOps}

/** The round-6 curation additions: connected-components cluster dedup
  * (large-star/small-star vs an in-memory union-find oracle), PII
  * redaction, deterministic hash sampling, and exact group quantile
  * filtering. The driver's x26–x29 oracles check engine portability;
  * these check the math and the algorithmic invariants directly.
  */
class ClusterCurationSpec extends SparkTestBase {

  /** In-memory union-find — the oracle for the distributed algorithm. */
  private def unionFind(n: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    n.map(x => x -> find(x)).toMap
  }

  private def ccResult(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    ConnectedComponents
      .run(edges.toDF("id_a", "id_b"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
  }

  test("connectedComponents: random graph matches union-find, min id is the label") {
    val rnd = new scala.util.Random(42)
    val n = 300
    val edges = Seq.fill(260)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val expected = unionFind(nodes, edges)
    assert(ccResult(edges) == expected)
  }

  test("connectedComponents: a 200-node chain converges (log rounds, not diameter)") {
    val edges = (0L until 199L).map(i => (i, i + 1))
    val got = ccResult(edges)
    assert(got.size == 200 && got.values.forall(_ == 0L))
  }

  test("connectedComponents: self-loops and duplicate edges are harmless; empty input is empty") {
    val got = ccResult(Seq((5L, 5L), (1L, 2L), (2L, 1L), (1L, 2L), (7L, 8L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 7L -> 7L, 8L -> 7L))
    assert(ccResult(Seq.empty).isEmpty)
  }

  test("connectedComponents: star-forest probe — star input converges in 0 rounds, non-stars don't") {
    import spark.implicits._
    // (member -> root) stars: downward edges, src/dst disjoint, one root
    // per member — the convergence probe must fire BEFORE the first round
    val stars = Seq((10L, 3L), (11L, 3L), (12L, 3L), (20L, 15L)).toDF("id_a", "id_b")
    val (res, rounds) = ConnectedComponents.runWithRounds(stars)
    assert(rounds == 0, s"star input should take 0 rounds, took $rounds")
    val got = res.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 3L, 11L -> 3L, 12L -> 3L, 3L -> 3L, 20L -> 15L, 15L -> 15L))
    // multi-root member (5 -> 1 and 5 -> 2): stars in shape but NOT a
    // fixpoint — the probe must keep iterating and merge {1, 2, 5}
    val multi = ccResult(Seq((5L, 1L), (5L, 2L)))
    assert(multi == Map(1L -> 1L, 2L -> 1L, 5L -> 1L))
    // root-as-member chain (3 -> 2 -> 1): src/dst overlap — not converged
    val chain = ccResult(Seq((3L, 2L), (2L, 1L)))
    assert(chain == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // upward-oriented single edge (root stored first): needs its round
    val up = ccResult(Seq((1L, 9L)))
    assert(up == Map(1L -> 1L, 9L -> 1L))
  }

  test("connectedComponents: string ids (URL keys) run natively — lexicographic min is the label") {
    import spark.implicits._
    val pairs = Seq(
      ("url/b", "url/a"), ("url/b", "url/c"), // component {a,b,c}, rep "url/a"
      ("zz/2", "zz/1") // component {zz/1, zz/2}
    ).toDF("id_a", "id_b")
    val docs = Seq("url/a", "url/b", "url/c", "zz/1", "zz/2", "solo").toDF("id")
    val got = ConnectedComponents
      .assignClusters(docs, col("id"), pairs)
      .collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getBoolean(3)))
      .toMap
    assert(got("url/a") == (("url/a", true)) && got("url/b") == (("url/a", false)))
    assert(got("url/c") == (("url/a", false)))
    assert(got("zz/1") == (("zz/1", true)) && got("zz/2") == (("zz/1", false)))
    assert(got("solo") == (("solo", true)))
    // mixed-type edges are rejected up front, not silently coerced
    val mixed = Seq(("a", 1L)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      ConnectedComponents.run(mixed).collect()
    }
  }

  test("assignClusters: singletons keep their own id; sizes and representatives are right") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 4L, 9L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val rows = ConnectedComponents
      .assignClusters(docs, col("id"), pairs)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.toSeq == Seq(
      (1L, 1L, 3L, true),
      (2L, 1L, 3L, false),
      (3L, 1L, 3L, false),
      (4L, 4L, 1L, true),
      (9L, 9L, 1L, true)
    ))
  }

  test("assignClustersKeepBest: highest quality wins, id breaks ties, singletons keep") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val docs = Seq(
      (1L, 5.0), (2L, 9.0), (3L, 9.0), // cluster {1,2,3}: quality tie 2 vs 3 -> 2 wins
      (4L, 1.0),                       // singleton
      (7L, 2.0), (8L, 3.0)             // cluster {7,8}: 8 wins on quality
    ).toDF("id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val rows = ConnectedComponents
      .assignClustersKeepBest(docs, col("id"), col("q"), pairs)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    assert(rows.toSeq == Seq(
      (1L, 1L, 3L, 5.0, false),
      (2L, 1L, 3L, 9.0, true),
      (3L, 1L, 3L, 9.0, false),
      (4L, 4L, 1L, 1.0, true),
      (7L, 7L, 2L, 2.0, false),
      (8L, 7L, 2L, 3.0, true)
    ))
    // exactly one keeper per component, under any layout
    val keeps = ConnectedComponents
      .assignClustersKeepBest(docs.repartition(7), col("id"), col("q"), pairs.repartition(3))
      .groupBy("component")
      .agg(org.apache.spark.sql.functions.sum(org.apache.spark.sql.functions.when(col("keep"), 1).otherwise(0)).as("n"))
      .collect()
    assert(keeps.forall(_.getLong(1) == 1L))
  }

  test("assignClustersKeepBest: NULL quality loses, never wins") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // struct ordering sorts a null field FIRST — un-coalesced, the
    // null-score member would take every cluster it appears in
    val docs = Seq(
      (1L, Some(9.0)), (2L, None),            // {1,2}: scored member wins
      (5L, None), (6L, None)                  // {5,6}: all-null -> min id wins
    ).toDF("id", "q")
    val pairs = Seq((1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val rows = ConnectedComponents
      .assignClustersKeepBest(docs, col("id"), col("q"), pairs)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(4)))
    assert(rows.toSeq == Seq((1L, true), (2L, false), (5L, true), (6L, false)))
  }

  test("fuzzyDedupKeepBest: near-dup twins keep the longer copy") {
    import org.apache.spark.sql.functions.{col, length}
    import spark.implicits._
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"), // longer twin
      (20L, "completely different content about other things entirely here now")
    ).toDF("doc_id", "text")
    val out = Dedup
      .fuzzyDedupKeepBest(docs, col("text"), col("doc_id"), length(col("text")), threshold = 0.5)
      .collect()
      .map(r => r.getLong(0) -> r.getBoolean(4))
      .toMap
    assert(out == Map(10L -> false, 11L -> true, 20L -> true),
      s"longer twin and the singleton survive: $out")
  }

  test("redactPii: emails, IPs, phones replaced; counts match; clean text untouched") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail me at jane.doe+x@sub.example.co or at 10.1.2.3 tel 555-123-4567"),
      (2L, "no pii here, just 1.5 tokens and a dash-word"),
      (3L, "two mails a@b.io c@d.org one ip 192.168.0.1")
    ).toDF("id", "text")
    val rows = df
      .select(
        col("id") +: TextOps.piiCounts(col("text")) :+ TextOps.redactPii(col("text")).as("red"): _*
      )
      .orderBy("id")
      .collect()
    assert((rows(0).getInt(1), rows(0).getInt(2), rows(0).getInt(3)) == ((1, 1, 1)))
    assert(rows(0).getString(4) == "mail me at <EMAIL> or at <IP> tel <PHONE>")
    assert((rows(1).getInt(1), rows(1).getInt(2), rows(1).getInt(3)) == ((0, 0, 0)))
    assert(rows(1).getString(4) == "no pii here, just 1.5 tokens and a dash-word")
    assert((rows(2).getInt(1), rows(2).getInt(2), rows(2).getInt(3)) == ((2, 1, 0)))
    assert(rows(2).getString(4) == "two mails <EMAIL> <EMAIL> one ip <IP>")
  }

  test("piiCounts agrees with redactPii on overlapping patterns (phone inside an email local part)") {
    import spark.implicits._
    // '555-123-4567@x.com' is ONE email and ZERO phones: the phone-shaped
    // local part is consumed by the email pass before the phone pass ever
    // sees it, and the audit must count on the same redacted input
    // (ADVICE r6: counting phones on the raw text said n_phones=1 while
    // the redacted output contained no <PHONE>)
    val df = Seq(
      (1L, "contact 555-123-4567@x.com now"),
      (2L, "ip-shaped mail 10.1.2.3@host.org and a real phone 555-000-1111")
    ).toDF("id", "text")
    val rows = df
      .select(
        col("id") +: TextOps.piiCounts(col("text")) :+ TextOps.redactPii(col("text")).as("red"): _*
      )
      .orderBy("id")
      .collect()
    assert((rows(0).getInt(1), rows(0).getInt(2), rows(0).getInt(3)) == ((1, 0, 0)))
    assert(rows(0).getString(4) == "contact <EMAIL> now")
    assert(!rows(0).getString(4).contains("<PHONE>"))
    assert((rows(1).getInt(1), rows(1).getInt(2), rows(1).getInt(3)) == ((1, 0, 1)))
    assert(rows(1).getString(4) == "ip-shaped mail <EMAIL> and a real phone <PHONE>")
    // invariant, property-style: replacement count == audit count, per kind
    val planted = Seq(
      (10L, "a@b.co 1.2.3.4 555-111-2222 c@d.io"),
      (11L, "999-999-9999 and 8.8.8.8"),
      (12L, "")
    ).toDF("id", "text")
    val chk = planted
      .select(
        col("id") +: TextOps.piiCounts(col("text")) :+ TextOps.redactPii(col("text")).as("red"): _*
      )
      .collect()
    chk.foreach { r =>
      val red = r.getString(4)
      def occurrences(s: String, sub: String): Int = s.sliding(sub.length).count(_ == sub)
      assert(occurrences(red, "<EMAIL>") == r.getInt(1), s"emails in '$red'")
      assert(occurrences(red, "<IP>") == r.getInt(2), s"ips in '$red'")
      assert(occurrences(red, "<PHONE>") == r.getInt(3), s"phones in '$red'")
    }
  }

  test("piiScrub (fused expression) is bit-equal to the declarative piiCounts :+ redactPii twin") {
    import spark.implicits._
    // adversarial corpus: overlapping patterns, repeats, adjacency,
    // pattern-shaped near-misses, empty text, unicode, $-in-text (the
    // appendReplacement metacharacter)
    val docs = Seq(
      "mail a@b.co twice a@b.co ip 10.0.0.1 tel 555-123-4567",
      "555-123-4567@x.com phone-in-email",
      "10.1.2.3@host.org ip-in-email then 8.8.8.8",
      "",
      "no pii at all, just 1.5 and a-b-c and 12345678",
      "edge555-123-4567 and 999.999.999.999 and 1.2.3.4.5",
      "a@b.co$1 dollar \\ backslash",
      "üñïçödé text with x@y.de and 127.0.0.1",
      "adjacent:a@b.io10.0.0.5 555-000-1111555-222-3333"
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    // plus 2000 random-ish docs from hash soup
    val fuzz = (0 until 2000).map { i =>
      val r = new scala.util.Random(i)
      val toks = (0 until 30).map { _ =>
        r.nextInt(6) match {
          case 0 => s"u${r.nextInt(100)}@ex${r.nextInt(10)}.org"
          case 1 => s"${r.nextInt(300)}.${r.nextInt(300)}.${r.nextInt(300)}.${r.nextInt(300)}"
          case 2 => s"${100 + r.nextInt(900)}-${100 + r.nextInt(900)}-${1000 + r.nextInt(9000)}"
          case _ => r.alphanumeric.take(1 + r.nextInt(8)).mkString
        }
      }
      (10000L + i, toks.mkString(" "))
    }
    val df = (docs ++ fuzz).toDF("id", "text")
    val declarative = df.select(
      col("id") +: TextOps.piiCounts(col("text")) :+ TextOps.redactPii(col("text")).as("redacted"): _*
    )
    val fused = df
      .select(col("id"), TextOps.piiScrub(col("text")).as("pii"))
      .select(col("id"), col("pii.*"))
    val diff = declarative.exceptAll(fused).count() + fused.exceptAll(declarative).count()
    assert(diff == 0, "fused PiiScrub diverged from the declarative twin")
  }

  test("RollingFp (native) is bit-equal to the declarative aggregate-HOF fingerprint") {
    import spark.implicits._
    val docs = Seq(
      "", " ", "  ", "a", "a b c", "a  b", " leading", "trailing ",
      "üñïçödé tokens too", "repeat repeat repeat", "x " * 200 + "end"
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) } ++
      (0 until 500).map { i =>
        val r = new scala.util.Random(i)
        (100L + i, Seq.fill(1 + r.nextInt(50))(r.alphanumeric.take(r.nextInt(9)).mkString).mkString(" "))
      }
    val df = docs.toDF("id", "text")
    val diff = df
      .select(
        TextOps.fingerprintRolling(col("text")).as("native"),
        TextOps.fingerprintRollingDeclarative(col("text")).as("declarative")
      )
      .filter(col("native") =!= col("declarative"))
      .count()
    assert(diff == 0, "native RollingFp diverged from the aggregate-HOF spec")
    // order sensitivity: a rolling hash must distinguish permutations
    val fp = (s: String) =>
      df.sparkSession.range(1).select(TextOps.fingerprintRolling(lit(s))).head().getLong(0)
    assert(fp("a b") != fp("b a"))
  }

  test("hashUniform: in [0,1), deterministic, and rate-monotone sampling") {
    import spark.implicits._
    val ids = (0L until 2000L).toDF("id")
    val u = ids.select(CorpusOps.hashUniform(col("id")).as("u"))
    assert(u.filter(col("u") < 0.0 || col("u") >= 1.0).count() == 0)
    val k30 = CorpusOps.sampleByRate(ids, col("id"), lit(0.3)).collect().map(_.getLong(0)).toSet
    val k60 = CorpusOps.sampleByRate(ids, col("id"), lit(0.6)).collect().map(_.getLong(0)).toSet
    assert(k30.subsetOf(k60), "raising the rate must only ADD rows")
    // law of large numbers at 2000 ids: within ±5 points of the rate
    assert(math.abs(k30.size / 2000.0 - 0.3) < 0.05)
    assert(math.abs(k60.size / 2000.0 - 0.6) < 0.05)
    // determinism across partitionings
    val again = CorpusOps
      .sampleByRate(ids.repartition(7), col("id"), lit(0.3))
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(again == k30)
  }

  test("fuzzyDedup end-to-end: minhash pairs -> components -> representatives") {
    import spark.implicits._
    // three near-identical copies (one token changed), one exact pair,
    // and two unrelated docs: expect clusters {1,2,3}, {10,11}, {20}, {21}
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, base),
      (2L, base.replace("today", "tonight")),
      (3L, base.replace("quick", "swift")),
      (10L, "completely different text about connected component clustering at scale"),
      (11L, "completely different text about connected component clustering at scale"),
      (20L, "unrelated singleton document one with its own vocabulary entirely"),
      (21L, "another standalone document two sharing nothing with the others")
    ).toDF("doc_id", "text")
    val out = Dedup
      .fuzzyDedup(docs, col("text"), col("doc_id"), n = 3, numHashes = 32, bands = 16, threshold = 0.5)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    assert(out.toSeq == Seq(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (10L, 10L, true), (11L, 10L, false),
      (20L, 20L, true), (21L, 21L, true)
    ))
  }

  test("graft_uniform SQL function matches hashUniform and bounds") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val ids = (0L until 500L).toDF("id")
    ids.createOrReplaceTempView("uniform_ids")
    val viaSql = spark
      .sql("SELECT id, graft_uniform(id) AS u FROM uniform_ids")
      .collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
      .toMap
    val viaColumn = ids
      .select(col("id"), CorpusOps.hashUniform(col("id")).as("u"))
      .collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
      .toMap
    assert(viaSql == viaColumn)
    assert(viaSql.values.forall(u => u >= 0.0 && u < 1.0))
  }

  test("quantileFilter: exact median cutoff per group, tie-stable") {
    import spark.implicits._
    val df = Seq(
      ("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L), ("a", 5L), // median (k=3) -> 3
      ("b", 10L), ("b", 10L), ("b", 20L), ("b", 30L), // k=2 -> 10: ties BELOW rank keep too
      ("c", 7L) // k=1 -> 7
    ).toDF("g", "v")
    val kept = CorpusOps
      .quantileFilter(df, col("g"), col("v"), q = 0.5)
      .select(col("g"), col("v"), col("cutoff"))
      .orderBy("g", "v")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(kept.toSeq == Seq(
      ("a", 3L, 3L), ("a", 4L, 3L), ("a", 5L, 3L),
      ("b", 10L, 10L), ("b", 10L, 10L), ("b", 20L, 10L), ("b", 30L, 10L),
      ("c", 7L, 7L)
    ))
  }

  test("quantileFilterApprox: exact at high accuracy, bounded rank error at low; no hot window task") {
    import spark.implicits._
    // distinct values, two groups of 1000: accuracy 10000 => rank error
    // <= n/accuracy < 1 => must match the exact variant row-for-row
    val rows = (0 until 2000).map(i => (if (i % 2 == 0) "a" else "b", i.toLong))
    val df = rows.toDF("g", "v")
    val exact = CorpusOps.quantileFilter(df, col("g"), col("v"), q = 0.7)
      .select("g", "v", "cutoff")
    val approx = CorpusOps.quantileFilterApprox(df, col("g"), col("v"), q = 0.7, accuracy = 10000)
      .select("g", "v", "cutoff")
    assert(exact.exceptAll(approx).count() == 0 && approx.exceptAll(exact).count() == 0)
    // low accuracy: cutoff must still be a real data value whose rank is
    // within n/accuracy of the target per group
    val loose = CorpusOps.quantileFilterApprox(df, col("g"), col("v"), q = 0.7, accuracy = 50)
    val perGroup = loose.groupBy("g").agg(count(lit(1)).as("kept")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = 1000.0
    val target = n - math.ceil(0.7 * n) + 1 // exact keep count
    val tol = n / 50 + 1
    assert(perGroup.values.forall(k => math.abs(k - target) <= tol), s"kept counts $perGroup vs $target ± $tol")
    // the scale shape: no Window in the plan — the cutoff is a mergeable
    // aggregate, so no group ever concentrates in one sort task
    val plan = loose.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "approx variant must not plan a window sort")
  }

  test("quantileFilter: internal-name collisions are safe; a pre-existing 'cutoff' is rejected up front") {
    import spark.implicits._
    // input already using the default internal names: result must be
    // identical to the clean-named twin, with the input columns intact
    val clashing = Seq(("a", 1L, "x"), ("a", 2L, "y"), ("b", 5L, "z"))
      .toDF("__qf_g", "v", "__qf_v")
    val kept = CorpusOps
      .quantileFilter(clashing, col("__qf_g"), col("v"), q = 0.5)
      .orderBy("v")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(kept.toSeq == Seq(("a", 1L, "x", 1L), ("a", 2L, "y", 1L), ("b", 5L, "z", 5L)))
    // reserved output name: fail fast with a clear message, not with
    // ambiguous duplicate columns at first downstream col("cutoff")
    val withCutoff = Seq(("a", 1L, 9L)).toDF("g", "v", "cutoff")
    val e = intercept[IllegalArgumentException] {
      CorpusOps.quantileFilter(withCutoff, col("g"), col("v"), q = 0.5)
    }
    assert(e.getMessage.contains("cutoff"))
  }

  test("normalizeText: native kernel bit-equal to the declarative twin; edge shapes") {
    import spark.implicits._
    val samples = Seq(
      "Hello  World",
      "  leading and trailing   ",
      "\t tabs\tand\nnewlines\r\nmixed \r",
      "single",
      "",
      "   \t\n\r  ", // whitespace-only -> empty
      "Ünïcödé ÉßÀ  Grüße", // multi-byte UTF-8 must survive the byte walk
      "ALL CAPS SENTENCE WITH   RUNS",
      "a", // 1-byte doc
      "naïve \t caféé" // combining content next to whitespace
    )
    val df = (samples.map(Option(_)) :+ Option.empty[String]).toDF("text")
    val got = df
      .select(
        TextOps.normalizeText(col("text")).as("native"),
        TextOps.normalizeTextDeclarative(col("text")).as("twin")
      )
      .collect()
    got.foreach { r =>
      assert(r.getString(0) == r.getString(1), s"native=${r.getString(0)} twin=${r.getString(1)}")
    }
    // null in -> null out on both paths
    assert(got.last.isNullAt(0) && got.last.isNullAt(1))
    // and the digest key built on it agrees with its declarative spec
    val fps = df
      .filter(col("text").isNotNull)
      .select(
        TextOps.fingerprintMd5(col("text")).as("native"),
        TextOps.fingerprintMd5Declarative(col("text")).as("twin")
      )
      .collect()
    fps.foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("fingerprintMd5 (native) is bit-equal to its declarative spec: long, non-ASCII, whitespace, hex payloads") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.text.{FingerprintMd5, NormalizeText}
    val buf = FingerprintMd5.BufferBytes
    val samples = Seq(
      "", " ", "x", "Hello  World", "ALL CAPS", "  \t\n\r  ",
      // each of the four whitespace bytes alone, leading, inner and trailing
      " a b ", "\ta\tb\t", "\na\nb\n", "\ra\rb\r", "a \t\n\r b\r\n\t c",
      // \u000B and \f are not whitespace here
      "a\u000Bb\fc",
      // longer than the buffer, runs and letters straddling its boundaries
      "A" * (buf - 1), "B" * buf, "c" * (buf + 1), ("Ab" + " " * 5 + "\t") * (buf / 2),
      ("word " * (3 * buf / 5 + 7)).toUpperCase, " " * (buf + 3) + "Z" + "\n" * (buf + 3),
      // non-ASCII, also first met past a full buffer
      "Ünïcödé ÉßÀ  Grüße", "naïve \t caféé", "A" * (2 * buf + 5) + " Ü", "日本語  テキスト"
    )
    val df = (samples.map(Option(_)) :+ Option.empty[String]).toDF("text")
      .union(Seq("frame 1", "FRAME 2 \u0000\u00ff", "Ü" * 900).toDF("text")
        .select(hex(encode(col("text"), "UTF-8")).as("text")))
    def pairs(): Array[(String, String, String)] = df
      .select(
        TextOps.fingerprintMd5(col("text")),
        md5(TextOps.normalizeText(col("text"))),
        TextOps.fingerprintMd5Declarative(col("text")))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    def check(mode: String, got: Array[(String, String, String)]): Unit = {
      assert(got.length == samples.size + 4, mode)
      got.zipWithIndex.foreach { case ((native, composed, twin), i) =>
        assert(native == composed && native == twin, s"$mode, row $i: native=$native md5(normalize)=$composed twin=$twin")
      }
      assert(got(samples.size) == ((null, null, null)), s"$mode: null in, null out")
    }
    check("whole-stage codegen", pairs())
    val interpreted = Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN", "spark.sql.codegen.wholeStage" -> "false")
    interpreted.foreach { case (k, v) => spark.conf.set(k, v) }
    try check("NO_CODEGEN", pairs())
    finally interpreted.foreach { case (k, _) => spark.conf.unset(k) }
    // eval on the calling thread agrees with Spark's md5 over the normalization
    samples.foreach { t =>
      val native = FingerprintMd5(Literal(t)).eval(null).toString
      val want = org.apache.commons.codec.digest.DigestUtils.md5Hex(NormalizeText.compute(UTF8String.fromString(t)).getBytes)
      assert(native == want, s"eval of a ${t.length}-char sample")
    }
    // 100k mixed rows on 4 threads at once, compared row by row
    val rows = spark.range(0L, 100000L, 1L, 8).select(
      concat(
        expr("repeat('Ab \t', cast(id % 1500 as int))"),
        col("id").cast("string"),
        when(col("id") % 7 === 0, lit(" Ü\r\n")).otherwise(lit("\n X ")),
        expr("repeat(' ', cast(id % 3 as int))")
      ).as("text"))
      .select(TextOps.fingerprintMd5(col("text")).as("native"), TextOps.fingerprintMd5Declarative(col("text")).as("twin"))
    assert(rows.filter(not(col("native") <=> col("twin"))).count() == 0L)
    assert(rows.filter(length(col("native")) === 32).count() == 100000L)
  }

  test("normalizeText: jittered re-crawls collapse onto the source digest") {
    import spark.implicits._
    val base = Seq((1L, "the quick brown fox"), (2L, "pack my box with five dozen jugs"))
      .toDF("doc_id", "text")
    val jitter = base.select(
      (col("doc_id") + 100).as("doc_id"),
      upper(concat(lit("  "), regexp_replace(col("text"), " ", "  "), lit(" "))).as("text")
    )
    val out = graft.operators.Dedup
      .exact(base.unionByName(jitter), col("text"), col("doc_id"))
      .collect()
    assert(out.length == 2, "jitter copies must not mint new digests")
    assert(out.forall(_.getLong(2) == 2L), "each digest holds source + jitter twin")
    assert(out.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L), "smallest id survives")
  }

  test("leakageSafeSplit: every cluster lands on exactly one side; singletons match hashSplit") {
    import spark.implicits._
    // 1-2-3 chained, 10-11 paired, 20/21/22 singletons
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L, 22L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val out = ConnectedComponents
      .leakageSafeSplit(docs, col("doc_id"), pairs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(4)))
    val byComponent = out.groupBy(_._2)
    assert(byComponent(1L).length == 3 && byComponent(10L).length == 2)
    byComponent.values.foreach { members =>
      assert(members.map(_._3).distinct.length == 1, s"split straddles a cluster: $members")
    }
    // singleton docs degrade to exactly the per-doc hash split, and a
    // cluster's split is the split of its component id (the min member)
    val perDoc = CorpusOps
      .hashSplit(Seq(1L, 10L, 20L, 21L, 22L).toDF("doc_id"), col("doc_id"))
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .toMap
    out.filter(t => t._1 >= 20L).foreach { case (id, comp, split) =>
      assert(comp == id && split == perDoc(id))
    }
    assert(byComponent(1L).head._3 == perDoc(1L))
    assert(byComponent(10L).head._3 == perDoc(10L))
  }
}
