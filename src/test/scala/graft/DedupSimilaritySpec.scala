package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** LSH operators verified against their exact brute-force twins — the
  * correctness story for the rows-only queries (x7/x8/x10).
  */
class DedupSimilaritySpec extends SparkTestBase {

  private lazy val docs = graft.sources.Tables.load(spark, sfDir, "documents")
  private lazy val emb = graft.sources.Tables
    .load(spark, sfDir, "embeddings")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))

  /** Declarative MinHash signature: each shingle string hashed once to a
    * long, then re-mixed by `numHashes` seeded `xxhash64` families.
    */
  private def minhashSignature(shingleCol: org.apache.spark.sql.Column, numHashes: Int) = {
    val hs = transform(array_distinct(shingleCol), s => xxhash64(s))
    array((0 until numHashes).map(seed => array_min(transform(hs, h => xxhash64(lit(seed), h)))): _*)
  }

  test("exact dedup: identical texts collapse to min id") {
    import spark.implicits._
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y")).toDF("doc_id", "text")
    val out = Dedup
      .exact(df, col("text"), col("doc_id"))
      .collect()
      .map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies")))
      .toSet
    assert(out == Set((1L, 2L), (3L, 1L)))
  }

  test("incremental dedup: reference copies vanish, intra-batch dups collapse") {
    import spark.implicits._
    val ref = Seq((10L, "seen before"), (11L, "also seen")).toDF("doc_id", "text")
    val inc = Seq(
      (100L, "brand new"),
      (101L, "seen before"),   // exact re-ingest -> dropped by anti-join
      (102L, "brand new"),     // intra-batch dup -> collapses onto 100
      (103L, "Seen  Before "), // normalization: same digest as ref -> dropped
      (104L, "fresh one")
    ).toDF("doc_id", "text")
    val out = Dedup
      .incremental(inc, col("text"), col("doc_id"), ref, col("text"))
      .collect()
      .map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies")))
      .toSet
    assert(out == Set((100L, 2L), (104L, 1L)))
  }

  test("incremental dedup: empty reference degrades to exact()") {
    import spark.implicits._
    val inc = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "text")
    val ref = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val viaIncremental = Dedup
      .incremental(inc, col("text"), col("doc_id"), ref, col("text"))
      .collect().map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies"))).toSet
    val viaExact = Dedup
      .exact(inc, col("text"), col("doc_id"))
      .collect().map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies"))).toSet
    assert(viaIncremental == viaExact)
  }

  test("incrementalBloom: bit-equal to incremental on real docs (sketch only prunes)") {
    val ref = docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("text"))
    val inc = docs
      .filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"))
      .unionByName(ref.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val plain = Dedup
      .incremental(inc, col("text"), col("doc_id"), ref, col("text"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val bloomed = Dedup
      .incrementalBloom(inc, col("text"), col("doc_id"), ref, col("text"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(bloomed == plain)
    assert(plain.nonEmpty)
  }

  test("incrementalBloom: empty reference keeps everything (null sketch is not a drop)") {
    import spark.implicits._
    val inc = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "text")
    val ref = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out = Dedup
      .incrementalBloom(inc, col("text"), col("doc_id"), ref, col("text"))
      .collect().map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies"))).toSet
    assert(out == Set((1L, 2L), (3L, 1L)))
  }

  test("incrementalBloom: oversized batch falls back to the plain anti-join (broadcast guard)") {
    val ref = docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("text"))
    val inc = docs
      .filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"))
      .unionByName(ref.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val plain = Dedup
      .incremental(inc, col("text"), col("doc_id"), ref, col("text"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // cap below the batch's distinct digest count -> must route to incremental()
    val guarded = Dedup.incrementalBloom(
      inc, col("text"), col("doc_id"), ref, col("text"), maxBroadcastCandidates = 1L)
    val plan = guarded.queryExecution.executedPlan.toString
    assert(!plan.contains("might_contain"), s"guard did not fall back, bloom probe present:\n$plan")
    val got = guarded.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == plain && got.nonEmpty)
  }

  test("incrementalBloom: rows past the bound with few distinct digests keep the Bloom plan") {
    import spark.implicits._
    val ref = (0 until 10).map(i => (100L + i, s"ref doc $i")).toDF("doc_id", "text")
    // 40 rows over 8 distinct texts, half of them already in the reference
    val inc = (0 until 40).map { i =>
      val t = i % 8
      (i.toLong, if (t < 4) s"ref doc $t" else s"new doc $t")
    }.toDF("doc_id", "text")
    val plain = Dedup
      .incremental(inc, col("text"), col("doc_id"), ref, col("text"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(plain.map(_._2) == Set(4L, 5L, 6L, 7L))
    def run(bound: Long) = {
      val out = Dedup.incrementalBloom(
        inc, col("text"), col("doc_id"), ref, col("text"), maxBroadcastCandidates = bound)
      (out.queryExecution.executedPlan.toString,
        out.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet)
    }
    // rows 40 > bound 10 >= distinct 8: the distinct count decides, Bloom plan
    val (bloomPlan, bloomGot) = run(10L)
    assert(bloomPlan.contains("might_contain"), s"bloom probe missing from plan:\n$bloomPlan")
    assert(!bloomPlan.contains("SortMergeJoin"), s"reference side got shuffle-joined:\n$bloomPlan")
    assert(bloomGot == plain)
    // distinct 8 > bound 5: falls back to the plain anti-join
    val (plainPlan, plainGot) = run(5L)
    assert(!plainPlan.contains("might_contain"), s"guard did not fall back:\n$plainPlan")
    assert(plainGot == plain)
  }

  test("incrementalBloom: probe is in the plan and the reference is never exchanged") {
    val ref = docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("text"))
    val inc = docs.filter(col("doc_id") % 2 === 1).select(col("doc_id"), col("text"))
    val out = Dedup.incrementalBloom(inc, col("text"), col("doc_id"), ref, col("text"))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"bloom probe missing from plan:\n$plan")
    // both reference-side joins must be broadcast (ref scanned, not shuffled)
    assert(!plan.contains("SortMergeJoin"), s"reference side got shuffle-joined:\n$plan")
  }

  test("incrementalOnDriver: Bloom-path survivors from one unshuffled store scan; past the guard, None") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graft-probe").toString + "/digests"
    Seq("seen a", "seen b", "seen c").toDF("text")
      .select(graft.operators.TextOps.fingerprintMd5(col("text")).as("fp"))
      .write.parquet(s"$store/epoch=0")
    val refFp = spark.read.option("basePath", store).parquet(store).select(col("fp"))
    // new rows, cross-epoch re-ingests (one a normalization variant) and
    // within-batch copies: 7 rows over 5 distinct digests
    val batch = Seq(
      (1L, "fresh x"), (2L, "seen a"), (3L, "fresh x"), (4L, "Seen  B"),
      (5L, "fresh y"), (6L, "fresh y"), (7L, "fresh z")
    ).toDF("doc_id", "text")
    val bloom = Dedup.incrementalBloomOnDigests(batch, col("text"), col("doc_id"), refFp)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(bloom.map(r => (r._2, r._3)) == Set((1L, 2L), (5L, 2L), (7L, 1L)))
    /** The decision at `bound`, with the executed plan of every query it ran. */
    def run(bound: Long) = {
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.execution.SparkPlan]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit = {
          plans.add(qe.executedPlan); ()
        }
        override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      val out =
        try Dedup.incrementalOnDriver(batch, graft.operators.TextOps.fingerprintMd5(col("text")), col("doc_id"), refFp, bound)
        finally {
          org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext, 10000L)
          spark.listenerManager.unregister(listener)
        }
      (plans.toArray(Array.empty[org.apache.spark.sql.execution.SparkPlan]).toSeq,
        out.map(_.map { case (d, id) => (d.toString, id.asInstanceOf[Long]) }.toSet))
    }
    // within the row bound (7 <= 10), and past it with few distinct digests
    // (7 > 5 >= 5, aggregated on the executors first): the store scanned
    // once over all the queries, never shuffled, no sketch
    for (bound <- Seq(10L, 5L)) {
      val (plans, got) = run(bound)
      assert(got.contains(bloom.map(r => (r._1, r._2))), s"bound $bound")
      val scans = plans.flatMap(scansUnder(_, store))
      assert(scans.size == 1, s"bound $bound: store scanned ${scans.size} times:\n${plans.mkString("\n")}")
      assert(!plans.exists(shufflesScanUnder(_, store)), s"bound $bound: store rows shuffled:\n${plans.mkString("\n")}")
      val ops = plans.flatMap(planNodes(_)).map(_.simpleString(Int.MaxValue)).mkString("\n")
      Seq("might_contain", "bloom_filter_agg", "SortMergeJoin").foreach { op =>
        assert(!ops.contains(op), s"bound $bound: $op in the decision's plans:\n$ops")
      }
    }
    // 5 distinct digests > bound 2: no decision, the caller anti-joins
    assert(run(2L)._2.isEmpty)
    // string ids: the smallest copy's id wins
    val byString = Dedup.incrementalOnDriver(
      Seq(("b", "dup"), ("a", "dup"), ("c", "dup")).toDF("id", "text"),
      graft.operators.TextOps.fingerprintMd5(col("text")), col("id"), refFp)
    assert(byString.map(_.map(_._2)).contains(Seq(org.apache.spark.unsafe.types.UTF8String.fromString("a"))))
  }

  test("in_broadcast_set: exact membership for hashed and ordered types, codegen and interpreted") {
    import org.apache.spark.sql.graftbridge.Bridge
    import graft.functions.sketch
    val values = spark.range(0L, 30L).select(
      col("id"),
      col("id").cast("string").as("s"),
      col("id").as("l"),
      col("id").cast("int").as("i"),
      date_add(lit("2020-01-01").cast("date"), col("id").cast("int")).as("d"),
      encode(col("id").cast("string"), "UTF-8").as("b"),
      (col("id") / 4).cast("decimal(10,2)").as("dec"),
      (col("id") / 4.0).as("f"),
      struct(col("id"), col("id").cast("string").as("t")).as("st"))
    // one row of NULLs, which never matches
    val df = values.unionByName(values.limit(1).select(values.columns.map(c => lit(null).cast(values.schema(c).dataType).as(c)): _*))
    def probe(c: String): Seq[Long] = {
      val dt = df.schema(c).dataType
      val members = Bridge.collectInternal(df.filter(col("id") % 3 === 0).select(col(c))).map(_.copy().get(0, dt))
      val set = sketch.broadcastSet(spark, dt, members.toSeq :+ null)
      try df.filter(sketch.in_broadcast_set(set, col(c))).select(col("id")).collect().map(_.getLong(0)).toSeq.sorted
      finally set.destroy()
    }
    val want = (0L until 30L by 3L).toSeq
    val columns = df.columns.filter(_ != "id").toSeq
    columns.foreach(c => assert(probe(c) == want, s"$c under codegen"))
    val interpreted = Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN", "spark.sql.codegen.wholeStage" -> "false")
    interpreted.foreach { case (k, v) => spark.conf.set(k, v) }
    try columns.foreach(c => assert(probe(c) == want, s"$c interpreted"))
    finally interpreted.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("quantizeInt8: bounds, zero vector, dequantization error within scale/2") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0f, -2.0f, 0.5f, 2.0f)),   // max|v|=2 -> scale=2/127
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),    // zero vector
      (3L, Seq(-3.5f, 3.5f, 0.0f, 1.75f))   // symmetric extremes
    ).toDF("vec_id", "embedding")
    val rows = df
      .select(col("vec_id"), col("embedding"), Similarity.quantizeInt8(col("embedding")).as("qz"))
      .orderBy("vec_id")
      .collect()

    val r1 = rows(0)
    val q1 = r1.getStruct(2).getSeq[Long](2)
    assert(q1 == Seq(64L, -127L, 32L, 127L), s"got $q1") // 1/(2/127)=63.5 -> half-up 64
    val r2 = rows(1)
    assert(r2.getStruct(2).getDouble(0) == 0.0)
    assert(r2.getStruct(2).getSeq[Long](2) == Seq(0L, 0L, 0L, 0L))
    val r3 = rows(2)
    val q3 = r3.getStruct(2).getSeq[Long](2)
    assert(q3.max == 127L && q3.min == -127L)

    // property: |q*scale - v| <= scale/2 for every component, on real data
    val viol = emb
      .limit(200)
      .select(col("vec_id"), col("embedding"), Similarity.quantizeInt8(col("embedding")).as("qz"))
      .select(
        array_max(
          zip_with(
            col("qz.q"),
            col("embedding"),
            (q, v) => abs(q * col("qz.scale") - v) - col("qz.scale") * 0.5
          )
        ).as("excess")
      )
      .filter(col("excess") > lit(1e-12))
      .count()
    assert(viol == 0L)
  }

  test("quantizeInt8: native kernel bit-equal to the declarative twin") {
    import spark.implicits._
    val edge = Seq(
      (100L, Seq(1.0f, -2.0f, 0.5f, 2.0f)),
      (101L, Seq(0.0f, 0.0f)),
      (102L, Seq(-3.5f)),
      (103L, Seq.empty[Float]),
      (104L, Seq(1e-30f, -1e-30f)),
      (105L, Seq(Float.MaxValue, Float.MinValue, 1.0f))
    ).toDF("vec_id", "embedding")
    val both = emb
      .limit(300)
      .select(col("vec_id"), col("embedding"))
      .unionByName(edge)
      .select(
        col("vec_id"),
        Similarity.quantizeInt8(col("embedding")).as("nat"),
        Similarity.quantizeInt8Declarative(col("embedding")).as("dec")
      )
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      val (n, d) = (r.getStruct(1), r.getStruct(2))
      assert(
        java.lang.Double.compare(
          if (n.isNullAt(0)) Double.NaN else n.getDouble(0),
          if (d.isNullAt(0)) Double.NaN else d.getDouble(0)
        ) == 0 && n.isNullAt(0) == d.isNullAt(0),
        s"scale mismatch for ${r.getLong(0)}: $n vs $d"
      )
      assert(n.getSeq[Long](2) == d.getSeq[Long](2), s"q mismatch for ${r.getLong(0)}: $n vs $d")
    }
  }

  test("shingles: 3-gram count and short-doc fallback") {
    import spark.implicits._
    val df = Seq(Tuple1("a b c d e"), Tuple1("a b")).toDF("text")
    val got = df.select(Dedup.shingles(col("text"), 3).as("s")).as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d", "c d e"))
    assert(got(1) == Seq("a b"))
  }

  test("native shingles are bit-equal to the declarative split/slice formulation on the corpus") {
    val declarative = {
      val toks = split(col("text"), " ")
      val count = size(toks) - 2
      when(count <= 0, array(concat_ws(" ", toks)))
        .otherwise(transform(sequence(lit(1), count), i => concat_ws(" ", slice(toks, i, lit(3)))))
    }
    val mismatches = docs
      .select(Dedup.shingles(col("text"), 3).as("n"), declarative.as("d"))
      .filter(col("n") =!= col("d"))
    assert(mismatches.count() == 0)
  }

  test("native simhash is bit-equal to the declarative explode+vote-agg formulation") {
    val declarative = {
      val tok = docs
        .select(col("doc_id").as("id"), explode(array_distinct(split(col("text"), " "))).as("t"))
        .withColumn("h", xxhash64(col("t")))
      val votes = (0 until 64).map { b =>
        sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$b")
      }
      val agg = tok.groupBy(col("id")).agg(votes.head, votes.tail: _*)
      val fp = (0 until 64)
        .map(b => when(col(s"v$b") > 0, shiftleft(lit(1L), b)).otherwise(0L))
        .reduce(_.bitwiseOR(_))
      agg.select(col("id"), fp.as("simhash"))
    }
    val native = Dedup.simhash(docs, col("text"), col("doc_id"))
    val mismatches = native.alias("n")
      .join(declarative.alias("d"), Seq("id"))
      .filter(col("n.simhash") =!= col("d.simhash"))
    assert(mismatches.count() == 0)
    assert(native.count() == declarative.count())
  }

  test("native minhash signature is bit-equal to the declarative explode+min-agg formulation") {
    val sh = docs.select(col("doc_id").as("id"), array_distinct(Dedup.shingles(col("text"), 3)).as("sh"))
    val native = sh.select(col("id"), graft.functions.text.minhash_sig(col("sh"), 32).as("sig"))
    val declarative = {
      val inv = sh
        .select(col("id"), explode(col("sh")).as("s0"))
        .select(col("id"), xxhash64(col("s0")).as("h"))
      val mins = (0 until 32).map(seed => min(xxhash64(lit(seed), col("h"))).as(s"m$seed"))
      inv.groupBy(col("id")).agg(mins.head, mins.tail: _*)
        .select(col("id"), array((0 until 32).map(i => col(s"m$i")): _*).as("sig"))
    }
    val mismatches = native.alias("n")
      .join(declarative.alias("d"), Seq("id"))
      .filter(col("n.sig") =!= col("d.sig"))
    assert(mismatches.count() == 0)
  }

  test("minhash-LSH pairs are a subset of exact jaccard pairs; high-sim pairs are found") {
    val exact = Dedup
      .ngramJaccardPairs(docs, col("text"), col("doc_id"), n = 3, threshold = 0.2)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    val lsh = Dedup
      .minhashPairs(docs, col("text"), col("doc_id"), n = 3, numHashes = 32, bands = 16, threshold = 0.2)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    // LSH verifies candidates with the SAME exact jaccard -> subset + equal values
    lsh.foreach { case (pair, j) =>
      assert(exact.contains(pair), s"LSH produced non-exact pair $pair")
      assert(math.abs(exact(pair) - j) < 1e-12)
    }
    // recall on the clearly-similar tail (collision prob ≥ ~97% at J≥0.5 with r=2,b=16)
    val strong = exact.filter(_._2 >= 0.5).keySet
    val found = strong.intersect(lsh.keySet)
    assert(strong.isEmpty || found.size.toDouble / strong.size >= 0.8,
      s"minhash recall too low: ${found.size}/${strong.size}")
  }

  test("minhash column API: identical shingle sets give identical signatures and band keys") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "q r s t u v")).toDF("doc_id", "text")
    val sigs = df
      .select(
        col("doc_id"),
        minhashSignature(Dedup.shingles(col("text"), 3), 16).as("sig")
      )
      .withColumn("bands", Dedup.bandKeys(col("sig"), 16, 4))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[org.apache.spark.sql.Row](2)))
    val byId = sigs.map(s => s._1 -> s).toMap
    assert(byId(1L)._2 == byId(2L)._2 && byId(1L)._3 == byId(2L)._3)
    assert(byId(1L)._2 != byId(3L)._2)
    assert(byId(1L)._2.length == 16 && byId(1L)._3.length == 4)
  }

  test("prefix-filtered jaccard join == naive inverted-index join (PPJoin theorem)") {
    def collectPairs(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => ((r.getLong(0), r.getLong(1)), math.round(r.getDouble(2) * 1e9))).toMap
    for (t <- Seq(0.2, 0.5)) {
      val naive = collectPairs(Dedup.ngramJaccardPairs(docs, col("text"), col("doc_id"), 3, t))
      val prefix = collectPairs(Dedup.ngramJaccardPairsPrefix(docs, col("text"), col("doc_id"), 3, t))
      assert(prefix == naive, s"threshold $t: prefix=${prefix.size} naive=${naive.size}")
    }
  }

  test("simhash: identical docs collide at hamming 0; near-dup recall vs exact") {
    import spark.implicits._
    val df = Seq((1L, "spark query engine test alpha"), (2L, "spark query engine test alpha"), (3L, "zz yy xx ww vv"))
      .toDF("doc_id", "text")
    val fps = Dedup.simhash(df, col("text"), col("doc_id")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L))
    assert(java.lang.Long.bitCount(fps(1L) ^ fps(3L)) > 10)
    val pairs = Dedup
      .simhashPairs(df, col("text"), col("doc_id"), maxHamming = 3, blocks = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pairs.contains((1L, 2L)) && !pairs.contains((1L, 3L)))
  }

  test("simhashPairs == brute-force Hamming pairs at the x8 query parameters (maxHamming=3, blocks=4)") {
    val fps = Dedup.simhash(docs, col("text"), col("doc_id"))
    val a = fps.select(col("id").as("id_a"), col("simhash").as("fp_a"))
    val b = fps.select(col("id").as("id_b"), col("simhash").as("fp_b"))
    val exact = a
      .crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .filter(Dedup.hamming(col("fp_a"), col("fp_b")) <= 3)
      .select("id_a", "id_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val blocked = Dedup
      .simhashPairs(docs, col("text"), col("doc_id"), maxHamming = 3, blocks = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(blocked == exact, s"blocked=${blocked.size} exact=${exact.size}: pigeonhole recall must be total")
    assert(exact.nonEmpty, "test corpus must contain at least one near-dup pair at radius 3")
  }

  test("simhashPairs rejects parameters that violate the pigeonhole precondition") {
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs, col("text"), col("doc_id"), maxHamming = 12, blocks = 4)
    }
  }

  test("pairsFromFps: pinBlocked=false is row-identical to the pinned path") {
    // the media catalog's near-dup legs skip the blocked-relation pin
    // (their fingerprint upstream is already pinned) — the join contract
    // must not depend on the materialization mode
    val fps = Dedup.simhash(docs, col("text"), col("doc_id"))
    def collect(pin: Boolean) = Dedup
      .pairsFromFps(fps, maxHamming = 3, blocks = 4, pinBlocked = pin)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    val pinned = collect(true)
    val unpinned = collect(false)
    assert(pinned == unpinned && pinned.nonEmpty)
  }

  test("ngramContainmentPairs: excerpt scores 1.0 one-way; asymmetry and threshold hold") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"), // host: 6 shingles
      (2L, "beta gamma delta epsilon"),                      // excerpt: 2 shingles, both in host
      (3L, "totally different words here now")               // unrelated
    ).toDF("doc_id", "text")
    val pairs = operators.Dedup
      .ngramContainmentPairs(df, col("text"), col("doc_id"), n = 3, threshold = 0.9)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // only the excerpt→host direction survives: C(2→1) = 2/2 = 1.0;
    // C(1→2) = 2/6 and everything with doc 3 is 0
    assert(pairs.toSeq == Seq((2L, 1L, 2L, 1.0)))
    // lower threshold exposes the asymmetric twin
    val both = operators.Dedup
      .ngramContainmentPairs(df, col("text"), col("doc_id"), n = 3, threshold = 0.3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
      .toSet
    assert(both.contains((2L, 1L, 1.0)))
    assert(both.exists { case (a, b, c) => a == 1L && b == 2L && c == 0.333333 }) // 2/6 @ 6dp
  }

  test("ngramJaccardPairsAuto: boilerplate candidate mass flips to prefix, results match naive") {
    import spark.implicits._
    // boilerplate corpus: 300 docs share a verbatim 10-token footer
    // (8 shared shingles, df >= 300 each -> cand ~ 8*C(300,2) = 359k vs
    // mass ~ 4000: ratio ~ 90); near-dup pair = 30 shared tokens differing
    // at the head (J = 25/31 ~ 0.806, above the t = 0.8 gate)
    val footer = "subscribe to our newsletter terms apply all rights reserved"
    val nd = (1 to 20).map(i => s"tok$i").mkString(" ") + " " + footer
    val boiler = ((1L to 300L).map(i => (i, s"head$i x$i $footer")) ++
      Seq((1000L, s"aa $nd"), (1001L, s"bb $nd")))
      .toDF("doc_id", "text")
    // ratio ~ 90: past the t=0.8 crossover (320*(1-0.8) = 64), below the
    // t=0.2 crossover (256) — the (1-t) scaling in one fixture
    assert(
      Dedup.preferPrefixStrategy(boiler, col("text"), 3, threshold = 0.8),
      "boilerplate candidate mass must trip the cost-based switch at t=0.8"
    )
    assert(
      !Dedup.preferPrefixStrategy(boiler, col("text"), 3, threshold = 0.2),
      "same corpus below the t=0.2 crossover must stay naive"
    )
    assert(
      !Dedup.preferPrefixStrategy(docs.limit(50), col("text"), 3, threshold = 0.8),
      "the oracle corpus sample is low-mass — naive must stay selected"
    )
    def collectPairs(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => ((r.getLong(0), r.getLong(1)), math.round(r.getDouble(2) * 1e9))).toSet
    // auto at t=0.8 takes the PREFIX path here; equivalence vs plain naive
    val auto = collectPairs(Dedup.ngramJaccardPairsAuto(boiler, col("text"), col("doc_id"), 3, 0.8))
    val naive = collectPairs(Dedup.ngramJaccardPairs(boiler, col("text"), col("doc_id"), 3, 0.8))
    assert(naive.nonEmpty, "equivalence must be checked on a corpus with at least one qualifying pair")
    assert(auto == naive, s"auto=${auto.size} naive=${naive.size}")
  }

  test("simhashPairs wide-key blocking (blocks=6, Manku multi-block combos) matches blocks=4 exactly") {
    def run(blocks: Int) = Dedup
      .simhashPairs(docs, col("text"), col("doc_id"), maxHamming = 3, blocks = blocks)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    val narrow = run(4)
    val wide = run(6)
    assert(wide == narrow, s"wide=${wide.size} narrow=${narrow.size}: result must not depend on key width")
    assert(narrow.nonEmpty)
  }

  test("cosine: known vectors") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 0.0), Seq(0.0, 1.0)), (Seq(1.0, 1.0), Seq(1.0, 1.0)), (Seq(1.0, 0.0), Seq(-1.0, 0.0)))
      .toDF("a", "b")
    val sims = df.select(Similarity.cosine(col("a"), col("b"))).as[Double].collect()
    assert(math.abs(sims(0) - 0.0) < 1e-12)
    assert(math.abs(sims(1) - 1.0) < 1e-12)
    assert(math.abs(sims(2) + 1.0) < 1e-12)
  }

  test("semanticDedup: over-full cells shed (kept un-deduped, observed); bounded cells still dedup") {
    import spark.implicits._
    val cents = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0))).toDF("cell", "centroid")
    // hot cell 0: 40 near-identical vectors (all pairwise cos ≈ 1)
    val hot = (0 until 40).map(i => (i.toLong, Seq(1.0, 1e-6 * i)))
    // cold cell 1: a twin pair (1001 must drop onto 1000) + one dissimilar member
    val cold = Seq(
      (1000L, Seq(0.001, 1.0)),
      (1001L, Seq(0.0011, 1.0)),
      (1002L, Seq(-0.9, 1.0)) // cos vs 1000 ≈ 0.74 < 0.95 -> kept
    )
    val corpus = (hot ++ cold).toDF("vec_id", "embedding")

    // capture the shed observation at action time
    val seen = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.startsWith("semantic_dedup_shed_") && !row.isNullAt(0))
            seen.put(name, (row.getLong(0), row.getAs[Number](1).longValue()))
        }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    })

    val guarded = Similarity
      .semanticDedup(cents, corpus, "embedding", "vec_id", threshold = 0.95, maxCell = 10)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"), r.getAs[Boolean]("kept")))
    assert(guarded.length == 43, "one row per doc, shed cells included")
    // over-full cell 0: ALL members come back kept (un-deduped), never lost
    assert(guarded.filter(_._2 == 0).forall(_._3), "shed-cell members must be kept un-deduped")
    // bounded cell 1 still dedups: 1001 drops onto 1000, dissimilar 1002 kept
    assert(guarded.filter(_._2 == 1).map(t => t._1 -> t._3).toMap == Map(1000L -> true, 1001L -> false, 1002L -> true))
    // the shed is surfaced: dropped_rows = 40, max_cell = 40
    val deadline = System.currentTimeMillis() + 20000
    while (seen.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(seen.values().stream().anyMatch(v => v._1 == 40L && v._2 == 40L),
      s"expected shed observation (40, 40), saw ${seen}")

    // same corpus, cap above the hot-cell size: the hot cell dedups down to id 0
    val open = Similarity
      .semanticDedup(cents, corpus, "embedding", "vec_id", threshold = 0.95, maxCell = 20000)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"), r.getAs[Boolean]("kept")))
    assert(open.count(t => t._2 == 0 && t._3) == 1 && open.exists(t => t._1 == 0L && t._3))
    assert(open.filter(_._2 == 1).map(t => t._1 -> t._3).toMap == Map(1000L -> true, 1001L -> false, 1002L -> true))
  }

  test("quantizedTopK: full shortlist == bruteForceTopK exactly; tight shortlist keeps recall") {
    val queries = emb.filter(col("vec_id") < 10)
    val n = emb.count().toInt
    val bf = Similarity.bruteForceTopK(emb, queries, "embedding", "vec_id", k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id"))).toSet
    // shortlist spanning the whole corpus -> the exact rescore sees every
    // candidate, so the result must be IDENTICAL to brute force
    val full = Similarity.quantizedTopK(emb, queries, "embedding", "vec_id", k = 5, shortlist = n)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id"))).toSet
    assert(full == bf, "full-shortlist quantized top-k must equal brute force")
    // tight shortlist (4x k): quantization noise may demote a true
    // neighbor past the boundary, but recall must stay high
    val tight = Similarity.quantizedTopK(emb, queries, "embedding", "vec_id", k = 5, shortlist = 20)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val bfPairs = bf.map(t => (t._1, t._3))
    val recall = (bfPairs & tight).size.toDouble / bfPairs.size
    assert(recall >= 0.9, s"tight-shortlist recall: $recall")
  }

  test("LSH ANN recall ≥ 0.4 vs brute force top-5 (16 bits / 4 blocks multi-probe)") {
    val queries = emb.filter(col("vec_id") < 10)
    val bf = Similarity
      .bruteForceTopK(emb, queries, "embedding", "vec_id", 5)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    val ann = Similarity
      .lshTopK(emb, queries, "embedding", "vec_id", 5, bits = 16, blocks = 4)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    val recall = bf.intersect(ann).size.toDouble / bf.size
    assert(recall >= 0.4, s"ANN recall $recall too low")
  }

  test("incrementalBloom sketch auto-switch: broadcast path == scalar path") {
    import spark.implicits._
    val ref = Seq((100L, "alpha doc"), (101L, "beta doc")).toDF("doc_id", "text")
    val refFp = ref.select(graft.operators.TextOps.fingerprintMd5(col("text")).as("fp"))
    val batch = Seq((1L, "alpha doc"), (2L, "fresh doc"), (3L, "fresh doc")).toDF("doc_id", "text")
    def runAt(expected: Long) = graft.operators.Dedup
      .incrementalBloomOnDigests(batch, col("text"), col("doc_id"), refFp, expectedRefItems = expected)
      .collect()
      .map(r => (r.getLong(1), r.getLong(2)))
      .toSet
    // default items stay under the session caps (scalar-subquery path);
    // 20M forces the broadcast build — identical survivors either way
    val scalar = runAt(1000L)
    val bc = runAt(20000000L)
    assert(scalar == Set((2L, 2L)) && bc == scalar)
  }

  test("incrementalFuzzy: near-dup re-ingests dropped, fresh and below-threshold kept") {
    import spark.implicits._
    val words = (0 until 40).map(i => s"w$i")
    val ref = Seq(
      (1L, words.mkString(" ")),
      (2L, words.map(w => w + "x").mkString(" "))
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, words.drop(1).mkString(" ")),          // twin of 1: J = 37/38 > 0.6 -> dropped
      (11L, (100 until 140).map(i => s"f$i").mkString(" ")), // fresh -> kept
      (12L, (words.take(10) ++ (200 until 230).map(i => s"g$i")).mkString(" ")) // J ~ 8/69 -> kept
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup
      .incrementalFuzzy(batch, col("text"), col("doc_id"), ref, col("text"), col("doc_id"),
        n = 3, numHashes = 32, bands = 16, threshold = 0.6)
      .orderBy(col("id"))
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.toSeq == Seq((10L, 1L, 1L, false), (11L, -1L, 0L, true), (12L, -1L, 0L, true)))
    // an exact re-ingest matches too (J = 1), and multiple matches count
    val batch2 = Seq((20L, words.mkString(" "))).toDF("doc_id", "text")
    val out2 = graft.operators.Dedup
      .incrementalFuzzy(batch2, col("text"), col("doc_id"), ref, col("text"), col("doc_id"))
      .collect()
    assert(out2.head.getLong(1) == 1L && !out2.head.getBoolean(3))
  }

  test("stitchCandidates: tail-meets-head pairs, direction, self-exclusion, under-w drop") {
    import spark.implicits._
    val boundary = "0123456789abcdefghijklmnopqrst" // 30 chars
    val rows = Seq(
      (1L, "PAGE-ONE-BODY " * 4 + boundary),          // tail = boundary
      (2L, boundary + " PAGE-TWO-BODY continues on"), // head = boundary -> (1,2)
      (3L, "unrelated document long enough to have keys"),
      (4L, boundary),                                 // exactly w: tail AND head = boundary
      (5L, "short")                                   // < w: dropped entirely
    ).toDF("id", "s")
    val got = graft.operators.Dedup
      .stitchCandidates(rows, col("id"), col("s"), w = 30)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    // 1->2, 1->4 (4's head is the boundary), 4->2, 4->4 excluded (self)
    assert(got == Set((1L, 2L), (1L, 4L), (4L, 2L)), s"got $got")
    // direction matters: no (2,1) — 2's tail is not 1's head
    assert(!got.contains((2L, 1L)))
  }
}
