package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp

import graft.operators.{Pipeline, Router}
import graft.streaming.StreamRuntime

/** Batch/stream symmetry: the SAME operator code (Pipeline/Router) runs
  * under a streaming source, producing the same results — the reference's
  * pipelines §3.1/§3.2 as Structured Streaming queries.
  */
class StreamingSpec extends SparkTestBase {

  import spark.implicits._

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String, mode: String = "append") = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  test("StreamDedup: batch-2 re-ingests of batch-1 docs are dropped; replay cannot poison the store") {
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("graft-dedup-store").toString + "/digests"
    val accepted = scala.collection.concurrent.TrieMap.empty[Long, String]
    val input = MemoryStream[(Long, String)]
    val q = input
      .toDF()
      .toDF("doc_id", "text")
      .writeStream
      .foreachBatch(
        graft.streaming.StreamDedup.dedupSink(
          col("text"),
          col("doc_id"),
          store,
          (kept, _) => kept.collect().foreach(r => accepted.put(r.getLong(0), r.getString(1)))
        )
      )
      .start()
    try {
      input.addData((1L, "alpha"), (2L, "beta"), (3L, "alpha")) // within-batch dup: 3 collapses onto 1
      q.processAllAvailable()
      assert(accepted.keySet == Set(1L, 2L), s"batch 1 survivors wrong: $accepted")

      input.addData((10L, "alpha"), (11L, "gamma"), (12L, "beta"), (13L, "gamma"))
      q.processAllAvailable()
      // cross-batch re-ingests (alpha, beta) dropped; new text survives once
      assert(accepted.keySet == Set(1L, 2L, 11L), s"batch 2 survivors wrong: $accepted")
    } finally q.stop()

    // replay semantics: re-running an epoch AGAINST ITS OWN STORED DIGESTS
    // must re-derive the same survivors (epoch partition self-excluded)
    val replayAccepted = scala.collection.mutable.Set.empty[Long]
    val replayBatch = Seq((10L, "alpha"), (11L, "gamma"), (12L, "beta"), (13L, "gamma")).toDF("doc_id", "text")
    val n = graft.streaming.StreamDedup.dedupBatch(
      replayBatch, col("text"), col("doc_id"), store, epoch = 1L,
      (kept, _) => kept.collect().foreach(r => replayAccepted.add(r.getLong(0))))
    assert(n == 1L && replayAccepted == Set(11L), s"replay diverged: n=$n, $replayAccepted")
  }

  test("StreamDedup: a missing store and an existing-but-empty store dir both read as empty") {
    val root = java.nio.file.Files.createTempDirectory("graft-dedup-empty").toString
    val emptyDir = new java.io.File(s"$root/existing")
    assert(emptyDir.mkdir())
    val batch = Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha")).toDF("doc_id", "text")
    Seq(s"$root/missing", emptyDir.toString).foreach { store =>
      var kept = Set.empty[Long]
      val n = graft.streaming.StreamDedup.dedupBatch(
        batch, col("text"), col("doc_id"), store, 0L,
        (df, _) => kept = df.collect().map(_.getLong(0)).toSet)
      assert(n == 2L && kept == Set(1L, 2L), s"$store: n=$n, kept=$kept")
      // the digests written are the declared store schema's md5 hex strings
      val stored = spark.read.parquet(s"$store/epoch=0")
      assert(stored.schema("fp").dataType == org.apache.spark.sql.types.StringType)
      assert(stored.collect().map(_.getString(0).length).toSet == Set(32))
    }
  }

  /** One streaming mirror's `*Batch` entry point over a fixture of its
    * own. `run(i, store, epoch, accept)` feeds input `i` — 0-3: the inputs
    * of epochs 0-3; [[Late]]: epoch 2 re-planned after a restart, carrying
    * rows that epoch 3 stored; anything else: an empty batch — and returns
    * the entry point's count; `rows` renders a delivered frame as sorted
    * strings.
    */
  private case class Mirror(
      name: String,
      run: (Int, String, Long, (org.apache.spark.sql.DataFrame, Long) => Unit) => Long,
      rows: org.apache.spark.sql.DataFrame => Seq[String]
  )

  private val Late = 4
  private val Empty = -1

  private def idsOf(c: String): org.apache.spark.sql.DataFrame => Seq[String] =
    _.select(col(c).cast("string")).collect().map(_.getString(0)).toSeq.sorted

  /** The six epoch-store entry points, each with inputs where what the
    * abandoned epoch 3 stored would change the re-planned epoch 2.
    */
  private lazy val mirrors: Seq[Mirror] = {
    import graft.operators.Multimodal
    import graft.streaming.{StreamAsOf, StreamDedup, StreamLinkage, StreamMediaDedup, StreamSemanticGate}
    def input[T](fixture: IndexedSeq[Seq[T]], i: Int): Seq[T] = fixture.lift(i).getOrElse(Nil)
    val docs = Vector(Seq(1L -> "alpha"), Seq(2L -> "beta"), Seq(3L -> "gamma"),
      Seq(5L -> "delta", 6L -> "epsilon", 8L -> "gamma"), Seq(3L -> "gamma", 4L -> "delta", 7L -> "alpha"))
    // (observations (k, t, price), events (k, t, ev)): epoch 3 stores a
    // later-arriving observation with an earlier time than the events
    val history = Vector(
      Seq((1L, 100L, 10.0)) -> Seq((1L, 150L, "z")),
      Seq((1L, 200L, 20.0)) -> Nil,
      Nil -> Seq((1L, 300L, "a")),
      Seq((1L, 250L, 25.0)) -> Seq((1L, 300L, "b")),
      Nil -> Seq((1L, 300L, "a"), (1L, 260L, "c")))
    val keys = Vector(
      Seq((1L, "alphaXX corp", "a"), (2L, "alphaXX corp.", "a")),
      Seq((3L, "beta llc", "b")),
      Seq((4L, "gamma inc", "g")),
      Seq((5L, "deltaXX corp", "d")),
      Seq((4L, "gamma inc", "g"), (6L, "deltaXX corp.", "d")))
    def unit(k: Int, scale: Double = 1.0) = Array.tabulate(4)(j => if (j == k) scale else 0.0)
    val vectors = Vector(Seq(1L -> unit(0)), Seq(2L -> unit(1)), Seq(3L -> unit(2)), Seq(5L -> unit(3)),
      Seq(3L -> unit(2), 4L -> unit(3, 2.0)))
    // simhashes 32+ bits apart, but for one that is 1 bit from epoch 3's
    val (h0, h1, h2, h3) = (0L, -1L, 0x00000000ffffffffL, 0xffffffff00000000L)
    val fps = Vector(Seq(1L -> h0), Seq(2L -> h1), Seq(3L -> h2), Seq(5L -> h3), Seq(3L -> h2, 4L -> (h3 ^ 1L)))
    // images by seed; a BMP of the same seed has the PNG's aHash
    def png(seed: Long) = Multimodal.syntheticImage(seed, 24, 20, "png")
    val media = Vector(Seq(10L -> png(1L)), Seq(20L -> png(2L)), Seq(30L -> png(3L)), Seq(50L -> png(4L)),
      Seq(30L -> png(3L), 40L -> Multimodal.syntheticImage(4L, 24, 20, "bmp")))
    Seq(
      Mirror("StreamDedup.dedupBatch",
        (i, store, epoch, accept) => StreamDedup.dedupBatch(
          input(docs, i).toDF("doc_id", "text"), col("text"), col("doc_id"), store, epoch, accept),
        idsOf("doc_id")),
      Mirror("StreamAsOf.enrichBatch",
        (i, store, epoch, accept) => {
          val (obs, ev) = history.lift(i).getOrElse((Nil, Nil))
          StreamAsOf.enrichBatch(ev.toDF("k", "t", "ev"), obs.toDF("k", "t", "price"), "k", "t", store, epoch, accept)
        },
        _.select(concat_ws("=", col("ev"), col("price"))).collect().map(_.getString(0)).toSeq.sorted),
      Mirror("StreamLinkage.linkBatch",
        (i, store, epoch, accept) => StreamLinkage.linkBatch(
          input(keys, i).toDF("id", "s", "blk"), col("id"), col("s"), col("blk"), 0.95, store, epoch, accept),
        _.select(concat_ws(":", col("id"), col("entity"), col("matched_store"))).collect().map(_.getString(0)).toSeq.sorted),
      Mirror("StreamSemanticGate.gateBatch",
        (i, store, epoch, accept) => StreamSemanticGate.gateBatch(
          input(vectors, i).toDF("vec_id", "v"), col("vec_id"), col("v"), store, epoch, accept),
        idsOf("vec_id")),
      Mirror("StreamMediaDedup.dedupFpBatch",
        (i, store, epoch, accept) => StreamMediaDedup.dedupFpBatch(
          input(fps, i).toDF("id", "simhash"), store, epoch, accept),
        idsOf("id")),
      Mirror("StreamMediaDedup.typedDedupBatch",
        (i, store, epoch, accept) => StreamMediaDedup.typedDedupBatch(
          input(media, i).map { case (id, c) => Multimodal.MediaRow(id, "blob", c) }.toDS(), store, epoch, accept),
        idsOf("doc_id"))
    )
  }

  /** `m` on input `i` at `epoch` of `store`: its count and delivered rows. */
  private def deliver(m: Mirror, store: String, i: Int, epoch: Long): (Long, Seq[String]) = {
    var got = Seq.empty[String]
    val n = m.run(i, store, epoch, (df, _) => got = m.rows(df))
    (n, got)
  }

  /** Inputs 0 to `last` as epochs 0 to `last` of `store`; the last one's result. */
  private def epochs(m: Mirror, store: String, last: Int): (Long, Seq[String]) =
    (0 to last).map(e => deliver(m, store, e, e.toLong)).last

  /** `f` over every mirror; the failures of all of them are reported together. */
  private def forEachMirror(f: Mirror => Unit): Unit = {
    val checks = new org.scalatest.Checkpoints.Checkpoint
    mirrors.foreach(m => checks(f(m)))
    checks.reportAll()
  }

  private def storeRoot(m: Mirror): String =
    java.nio.file.Files.createTempDirectory("graft-" + m.name.replaceAll("[^A-Za-z]", "-")).toString

  test("streaming mirrors: replaying epoch 2 ignores the abandoned epoch 3") {
    forEachMirror { m =>
      val root = storeRoot(m)
      // the restarted store held epochs 0-3 when the older checkpoint
      // re-planned epoch 2; the clean one never saw epoch 3
      epochs(m, s"$root/restarted", 3)
      val replayed = deliver(m, s"$root/restarted", Late, 2L)
      epochs(m, s"$root/clean", 1)
      val clean = deliver(m, s"$root/clean", Late, 2L)
      assert(clean._2.size == clean._1 && clean._2.nonEmpty, s"${m.name}: $clean")
      assert(replayed == clean, s"${m.name}: the epoch-2 replay read the abandoned epoch 3")
    }
  }

  test("streaming mirrors: a missing store at epoch 0 reads as empty") {
    forEachMirror { m =>
      val store = storeRoot(m) + "/missing"
      val (n, got) = deliver(m, store, 0, 0L)
      assert(n == got.size && got.nonEmpty, s"${m.name}: n=$n, $got")
      assert(new java.io.File(s"$store/epoch=0").isDirectory, s"${m.name}: epoch 0 not stored")
    }
  }

  test("streaming mirrors: an epoch whose stored partition is empty reads as empty") {
    forEachMirror { m =>
      val root = storeRoot(m)
      assert(deliver(m, s"$root/gap", Empty, 0L) == ((0L, Nil)), m.name)
      val files = new java.io.File(s"$root/gap/epoch=0").listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.nonEmpty && spark.read.parquet(s"$root/gap/epoch=0").count() == 0L, s"${m.name}: no empty partition")
      assert(deliver(m, s"$root/gap", 0, 1L) == deliver(m, s"$root/fresh", 0, 0L), m.name)
    }
  }

  test("streaming mirrors: when delivery throws after the store write, the replay delivers the same rows") {
    forEachMirror { m =>
      val root = storeRoot(m)
      epochs(m, s"$root/crashed", 1)
      val crash = intercept[IllegalStateException](
        m.run(2, s"$root/crashed", 2L, (_, _) => throw new IllegalStateException("sink down")))
      assert(crash.getMessage == "sink down", m.name)
      assert(new java.io.File(s"$root/crashed/epoch=2").isDirectory, s"${m.name}: delivered before storing")
      val replayed = deliver(m, s"$root/crashed", 2, 2L)
      val clean = epochs(m, s"$root/clean", 2)
      assert(clean._2.nonEmpty && replayed == clean, s"${m.name}: replay $replayed vs $clean")
    }
  }

  /** Every per-epoch entry point that holds frames for its epoch: the six
    * [[mirrors]], plus `StreamSft.sftBatch` and `StreamWebIngest.ingestBatch`
    * on inputs 0 and 1 of fixtures of their own (counting pairs and
    * accepted docs; their `rows` are unused).
    */
  private lazy val epochSites: Seq[Mirror] = {
    import graft.streaming.{StreamSft, StreamWebIngest}
    val transcripts = Vector(
      Seq((1L, "user: tide tables\nassistant: high at noon", 0.9), (2L, "user: tide tables\nassistant: no", 0.1)),
      Seq((3L, "user: tide tables\nassistant: low at six", 0.8), (4L, "user: star charts\nassistant: orion", 0.7),
        (5L, "user: star charts\nassistant: ?", 0.2)))
    val lines = Vector(
      Seq(1L -> "1,\"alpha text\",en,10", 2L -> "2,\"beta text\",en,9", 3L -> "3,\"gamma\",fr,BAD"),
      Seq(4L -> "1,\"alpha text\",en,10", 5L -> "5,\"delta text\",de,10"))
    val robots = Seq(("d", "User-agent: *\nDisallow: /private\n")).toDF("domain", "txt")
    mirrors ++ Seq(
      Mirror("StreamSft.sftBatch",
        (i, store, epoch, accept) => StreamSft.sftBatch(
          transcripts(i).toDF("cand_id", "text", "score"), "text", col("cand_id"), col("score"), store, epoch,
          accept)._1,
        _ => Nil),
      Mirror("StreamWebIngest.ingestBatch",
        (i, store, epoch, accept) => StreamWebIngest.ingestBatch(
          lines(i).toDF("lid", "line"), col("lid"), col("line"), lit("d"),
          concat(when(col("doc_id") === 2, lit("/private/x")).otherwise(lit("/pub/x")), col("doc_id")),
          robots, col("domain"), col("txt"), "anybot", store, epoch, accept)._1,
        _ => Nil)
    )
  }

  test("streaming mirrors: an epoch leaves no CacheManager entry and no persisted RDD, also when accept throws") {
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    // caches other specs of this shared session left behind
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val checks = new org.scalatest.Checkpoints.Checkpoint
    epochSites.foreach { m =>
      val store = storeRoot(m) + "/store"
      // epoch 0 delivers; epoch 1's accept throws after looking
      (0 to 1).foreach { i =>
        val crash = i == 1
        val before = sc.getPersistentRDDs.keySet
        var cachedInAccept = Option.empty[Boolean]
        val accept: (org.apache.spark.sql.DataFrame, Long) => Unit = (_, _) => {
          cachedInAccept = Some(!cacheManager.isEmpty)
          if (crash) throw new IllegalStateException("sink down")
        }
        try m.run(i, store, i.toLong, accept)
        catch { case e: IllegalStateException if crash && e.getMessage == "sink down" => () }
        // linkage's connected components pin each round (a local
        // checkpoint holds its blocks until its frame is garbage): those
        // are lineage cuts, not epoch caches. No other site pins
        val cuts = m.name == "StreamLinkage.linkBatch"
        val left = sc.getPersistentRDDs.filter { case (id, rdd) => !before(id) && !(cuts && rdd.isCheckpointed) }
        val what = s"${m.name}, epoch $i${if (crash) " (accept throws)" else ""}"
        checks(assert(cachedInAccept.contains(false), s"$what: CacheManager entry seen in accept: $cachedInAccept"))
        checks(assert(cacheManager.isEmpty, s"$what: a CacheManager entry outlived the epoch"))
        checks(assert(left.isEmpty, s"$what: persisted RDDs outlived the epoch: ${left.values.mkString(", ")}"))
        // what a failing site left must not fail the sites after it
        spark.catalog.clearCache()
        left.values.foreach(_.unpersist(blocking = true))
      }
    }
    checks.reportAll()
  }

  test("StreamDedup: a warm epoch scans the store once, builds no sketch, never shuffles the store") {
    import graft.streaming.StreamDedup
    val store = java.nio.file.Files.createTempDirectory("graft-one-scan").toString + "/digests"
    def dedup(epoch: Long, docs: (Long, String)*): Long =
      StreamDedup.dedupBatch(docs.toDF("doc_id", "text"), col("text"), col("doc_id"), store, epoch, (_, _) => ())
    assert(dedup(0L, 1L -> "alpha", 2L -> "beta") == 2L)
    assert(dedup(1L, 3L -> "gamma") == 1L)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.execution.SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // a cross-epoch re-ingest, a normalization variant of one, and a
    // within-batch copy of a new doc
    val kept =
      try dedup(2L, 4L -> "alpha", 5L -> "delta", 6L -> "delta", 7L -> "Gamma ")
      finally {
        org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext, 10000L)
        spark.listenerManager.unregister(listener)
      }
    assert(kept == 1L)
    // every query of the epoch: the digests are written from the driver,
    // so no write query runs, and the store is scanned once over all of
    // them
    val all = plans.toArray(Array.empty[org.apache.spark.sql.execution.SparkPlan]).toSeq
    val writes = all.filter(p =>
      planNodes(p).exists(_.isInstanceOf[org.apache.spark.sql.execution.command.DataWritingCommandExec]))
    assert(writes.isEmpty, s"expected no store write query, saw ${writes.size}")
    assert(spark.read.parquet(s"$store/epoch=2").count() == 1L, "the new digest is not stored")
    val scans = all.flatMap(scansUnder(_, store))
    assert(scans.size == 1, s"store scanned ${scans.size} times over the epoch:\n${all.mkString("\n")}")
    assert(!all.exists(shufflesScanUnder(_, store)), s"store rows shuffled:\n${all.mkString("\n")}")
    val ops = all.flatMap(planNodes(_)).map(_.simpleString(Int.MaxValue)).mkString("\n")
    Seq("might_contain", "bloom_filter_agg", "SortMergeJoin").foreach { op =>
      assert(!ops.contains(op), s"$op in the epoch's queries:\n$ops")
    }
  }

  /** `f`'s result with the executed plan of every query it ran. */
  private def plansOf[T](f: => T): (T, Seq[org.apache.spark.sql.execution.SparkPlan]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.execution.SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext, 10000L)
    spark.listenerManager.register(listener)
    val out =
      try f
      finally {
        org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext, 10000L)
        spark.listenerManager.unregister(listener)
      }
    (out, plans.toArray(Array.empty[org.apache.spark.sql.execution.SparkPlan]).toSeq)
  }

  /** [[graft.streaming.StreamDedup.dedupBatch]] of `batch` (doc_id, text)
    * within `guard` distinct digests: the survivor count and the kept ids.
    */
  private def dedupKept(
      batch: org.apache.spark.sql.DataFrame,
      store: String,
      epoch: Long,
      guard: Long = 2000000L
  ): (Long, Set[Long]) = {
    var kept = Set.empty[Long]
    val n = graft.streaming.StreamDedup.dedupBatch(batch, col("text"), col("doc_id"), store, epoch,
      (df, _) => kept = df.collect().map(r => new java.math.BigDecimal(r.get(0).toString).longValueExact).toSet,
      guard = guard)
    (n, kept)
  }

  /** The digests stored for `epoch`, one per row. */
  private def storedDigests(store: String, epoch: Long): Seq[String] =
    spark.read.parquet(s"$store/epoch=$epoch").collect().map(_.getString(0)).toSeq.sorted

  test("StreamDedup: past the driver guard the anti-join writes each new digest once, delivers the in-guard survivors and replays") {
    val root = java.nio.file.Files.createTempDirectory("graft-past-guard").toString
    val (inGuard, past) = (s"$root/in-guard", s"$root/past")
    Seq(inGuard, past).foreach(store => dedupKept(Seq(1L -> "alpha", 2L -> "beta").toDF("doc_id", "text"), store, 0L))
    // cross-epoch re-ingests (one a normalization variant) and within-batch
    // copies: 4 distinct digests, past a guard of 2
    val batch = Seq(10L -> "alpha", 11L -> "gamma", 12L -> "Beta ", 13L -> "gamma", 14L -> "delta", 15L -> " DELTA")
      .toDF("doc_id", "text")
    val (want, inGuardPlans) = plansOf(dedupKept(batch, inGuard, 1L))
    assert(want == ((2L, Set(11L, 14L))))
    assert(inGuardPlans.flatMap(scansUnder(_, inGuard)).size == 1, "within the guard the driver probes the store")
    val (got, plans) = plansOf(dedupKept(batch, past, 1L, guard = 2L))
    assert(got == want)
    // the driver decision gave up after counting the distinct digests and
    // never probed the store: the anti-join decided
    assert(plans.flatMap(scansUnder(_, past)).isEmpty && plans.exists(planNodes(_).exists(_.isInstanceOf[
      org.apache.spark.sql.execution.aggregate.BaseAggregateExec])), s"the driver decided:\n${plans.mkString("\n")}")
    assert(storedDigests(past, 1L) == storedDigests(inGuard, 1L) && storedDigests(past, 1L).distinct.size == 2)
    // a replay of the epoch re-derives the same survivors and digests
    assert(dedupKept(batch, past, 1L, guard = 2L) == want, "replay diverged")
    assert(storedDigests(past, 1L) == storedDigests(inGuard, 1L))
  }

  test("StreamDedup: a partition past its share of the guard is decided by executor aggregation, same survivors") {
    val root = java.nio.file.Files.createTempDirectory("graft-skewed-share").toString
    val (even, skewed) = (s"$root/default", s"$root/skewed")
    Seq(even, skewed).foreach(store => dedupKept(Seq(0L -> "seen").toDF("doc_id", "text"), store, 0L))
    // partition 0 holds 8 rows, past its share ⌈6 / 2⌉ = 3 of a guard of 6;
    // the batch holds 6 distinct digests, within the guard
    val batch = spark.sparkContext
      .parallelize(Seq(
        Seq(1L -> "a", 2L -> "b", 3L -> "a", 4L -> "c", 5L -> "b", 6L -> "d", 7L -> "a", 8L -> "seen"),
        Seq(9L -> "e")), 2)
      .flatMap(identity)
      .toDF("doc_id", "text")
    def aggregates(plans: Seq[org.apache.spark.sql.execution.SparkPlan]): Boolean =
      plans.exists(planNodes(_).exists(_.isInstanceOf[org.apache.spark.sql.execution.aggregate.BaseAggregateExec]))
    val (want, inGuardPlans) = plansOf(dedupKept(batch, even, 1L))
    assert(want == ((5L, Set(1L, 2L, 4L, 6L, 9L))))
    assert(!aggregates(inGuardPlans), "within every share nothing aggregates")
    val (got, plans) = plansOf(dedupKept(batch, skewed, 1L, guard = 6L))
    assert(got == want)
    assert(aggregates(plans), s"the overflowing partition was not aggregated:\n${plans.mkString("\n")}")
    assert(!plans.exists(shufflesScanUnder(_, skewed)), "within the guard the store is never shuffled")
    assert(storedDigests(skewed, 1L) == storedDigests(even, 1L))
  }

  test("StreamDedup: string, long and decimal ids keep the same survivors; the digests land once each in one file") {
    val root = java.nio.file.Files.createTempDirectory("graft-id-types").toString
    // copies whose smaller id comes later in batch order, a normalization
    // variant and a cross-epoch re-ingest; ids of one width, so that string
    // order is numeric order
    val docs = Seq(103L -> "alpha", 101L -> "Alpha ", 102L -> "seen", 105L -> "beta", 104L -> "BETA", 106L -> "gamma")
    val survivors = Seq("alpha", "beta", "gamma").toDF("text")
      .select(graft.operators.TextOps.fingerprintMd5(col("text"))).collect().map(_.getString(0)).toSeq.sorted
    Seq("string", "long", "decimal(20,0)").foreach { idType =>
      val store = s"$root/${idType.takeWhile(_ != '(')}"
      def typed(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text").select(col("doc_id").cast(idType).as("doc_id"), col("text"))
      dedupKept(typed(Seq(0L -> "seen")), store, 0L)
      assert(dedupKept(typed(docs), store, 1L) == ((3L, Set(101L, 104L, 106L))), idType)
      val files = new java.io.File(s"$store/epoch=1").listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"$idType: ${files.length} digest files")
      assert(storedDigests(store, 1L) == survivors, idType)
    }
  }

  /** The md5 digests of `texts` by the declarative spec, sorted. */
  private def digestsOf(texts: String*): Seq[String] =
    texts.toDF("text").select(graft.operators.TextOps.fingerprintMd5Declarative(col("text")))
      .collect().map(_.getString(0)).toSeq.sorted

  /** The parquet files of `dir`. */
  private def parquetFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet"))

  private def texts(docs: (Long, String)*): org.apache.spark.sql.DataFrame = docs.toDF("doc_id", "text")

  test("StreamDedup: a driver-written epoch written twice holds only the second attempt's digests, in one file") {
    import graft.streaming.{EpochStore, StreamDedup}
    val store = java.nio.file.Files.createTempDirectory("graft-driver-twice").toString + "/digests"
    assert(dedupKept(texts(1L -> "alpha", 2L -> "beta"), store, 0L) == ((2L, Set(1L, 2L))))
    assert(dedupKept(texts(3L -> "gamma", 4L -> "Gamma "), store, 0L) == ((1L, Set(3L))))
    assert(storedDigests(store, 0L) == digestsOf("gamma"))
    val files = parquetFiles(s"$store/epoch=0")
    assert(files.size == 1, s"${files.size} digest files")
    assert(!new java.io.File(EpochStore.attemptDir(store, 0L).toUri.getPath).exists, "the attempt directory stayed")
    assert(EpochStore.prior(spark, store, StreamDedup.StoreSchema, 1L).collect().map(_.getString(0)).toSeq ==
      digestsOf("gamma"))
    // the session's codec, and no dictionary for the unique digests
    val footer = org.apache.parquet.hadoop.ParquetFileReader
      .open(org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(files.head.toString), spark.sparkContext.hadoopConfiguration))
    val chunk = try footer.getFooter.getBlocks.get(0).getColumns.get(0) finally footer.close()
    assert(chunk.getCodec.name.equalsIgnoreCase(spark.conf.get("spark.sql.parquet.compression.codec")))
    assert(!chunk.hasDictionaryPage, s"fp is dictionary-encoded: ${chunk.getEncodings}")
  }

  test("StreamDedup: an attempt directory left by a crash before the rename is never read, and the next attempt removes it") {
    import graft.streaming.{EpochStore, StreamDedup, StreamTws}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val store = java.nio.file.Files.createTempDirectory("graft-driver-crash").toString + "/digests"
    dedupKept(texts(1L -> "alpha"), store, 0L)
    // epoch 1's first attempt wrote "beta" and died before its rename
    val attempt = EpochStore.attemptDir(store, 1L).toString
    org.apache.spark.sql.graftbridge.Bridge.writeParquetFile(spark,
      digestsOf("beta").iterator.map(d => InternalRow(UTF8String.fromString(d))), StreamDedup.StoreSchema, attempt,
      Map.empty)
    assert(parquetFiles(attempt).size == 1)
    def read(rows: org.apache.spark.sql.Dataset[_]) = rows.toDF().collect().map(_.getString(0)).toSeq.sorted
    assert(read(EpochStore.prior(spark, store, StreamDedup.StoreSchema, 2L)) == digestsOf("alpha"))
    assert(read(StreamTws.digestSeeds(spark, store)) == digestsOf("alpha"))
    // the replay keeps "beta": the crashed attempt's digest is not a prior
    assert(dedupKept(texts(2L -> "beta", 3L -> "alpha"), store, 1L) == ((1L, Set(2L))))
    assert(!new java.io.File(attempt).exists, "the crashed attempt stayed")
    assert(storedDigests(store, 1L) == digestsOf("beta"))
  }

  test("StreamDedup: an epoch with zero survivors stores an empty file that reads back as empty") {
    import graft.streaming.{EpochStore, StreamDedup}
    val store = java.nio.file.Files.createTempDirectory("graft-driver-zero").toString + "/digests"
    dedupKept(texts(1L -> "alpha"), store, 0L)
    assert(dedupKept(texts(2L -> "ALPHA", 3L -> " alpha"), store, 1L) == ((0L, Set.empty[Long])))
    assert(parquetFiles(s"$store/epoch=1").size == 1)
    val stored = spark.read.parquet(s"$store/epoch=1")
    assert(stored.schema == StreamDedup.StoreSchema && stored.count() == 0L)
    assert(EpochStore.prior(spark, store, StreamDedup.StoreSchema, 2L).collect().map(_.getString(0)).toSeq ==
      digestsOf("alpha"))
    assert(dedupKept(texts(4L -> "beta", 5L -> "alpha"), store, 2L) == ((1L, Set(4L))))
  }

  test("StreamDedup: epochs written by Spark's parquet writer and driver-written epochs read as one store") {
    import graft.streaming.{EpochStore, StreamDedup, StreamTws}
    val store = java.nio.file.Files.createTempDirectory("graft-driver-mixed").toString + "/digests"
    // epochs 0 and 1 as a Spark write job left them (with its _SUCCESS)
    Seq(Seq("alpha", "beta"), Seq("gamma")).zipWithIndex.foreach { case (docs, e) =>
      EpochStore.write(digestsOf(docs: _*).toDF("fp"), store, e.toLong)
    }
    assert(new java.io.File(s"$store/epoch=1/_SUCCESS").exists)
    assert(dedupKept(texts(1L -> "Alpha", 2L -> "gamma ", 3L -> "delta"), store, 2L) == ((1L, Set(3L))))
    assert(dedupKept(texts(4L -> "beta", 5L -> "delta", 6L -> "epsilon"), store, 3L) == ((1L, Set(6L))))
    assert(StreamTws.digestSeeds(spark, store).collect().toSeq.sorted ==
      digestsOf("alpha", "beta", "gamma", "delta", "epsilon"))
    // a driver-written replay of a Spark-written epoch replaces it whole
    assert(dedupKept(texts(7L -> "zeta"), store, 1L) == ((1L, Set(7L))))
    assert(storedDigests(store, 1L) == digestsOf("zeta") && !new java.io.File(s"$store/epoch=1/_SUCCESS").exists)
    assert(EpochStore.prior(spark, store, StreamDedup.StoreSchema, 2L).collect().map(_.getString(0)).toSeq.sorted ==
      digestsOf("alpha", "beta", "zeta"))
  }

  test("streaming mirrors: job budget of a warm epoch") {
    import graft.operators.Multimodal
    import graft.streaming.{StreamAsOf, StreamDedup, StreamLinkage, StreamMediaDedup, StreamSemanticGate, StreamSft,
      StreamWebIngest}
    val root = java.nio.file.Files.createTempDirectory("graft-job-budget").toString
    def rows(epoch: Long, n: Long = 2000L) = spark.range(epoch * n, (epoch + 1) * n)
    def dedup(epoch: Long): Long = StreamDedup.dedupBatch(
      rows(epoch).select(col("id").as("doc_id"), concat(lit("doc "), (col("id") % 1000).cast("string")).as("text")),
      col("text"), col("doc_id"), s"$root/digests", epoch, (_, _) => ())
    def enrich(epoch: Long): Long = StreamAsOf.enrichBatch(
      rows(epoch).filter(col("id") % 4 =!= 0).select((col("id") % 50).as("k"), col("id").as("t")),
      rows(epoch).filter(col("id") % 4 === 0).select((col("id") % 50).as("k"), col("id").as("t"),
        (col("id") * 2).as("feat")),
      "k", "t", s"$root/obs", epoch, (_, _) => ())
    def link(epoch: Long): Long = StreamLinkage.linkBatch(
      rows(epoch, 200L).select(col("id"), concat(lit("key "), (col("id") % 150).cast("string")).as("s"),
        (col("id") % 10).cast("string").as("blk")),
      col("id"), col("s"), col("blk"), 0.95, s"$root/keys", epoch, (_, _) => ())
    def gate(epoch: Long): Long = StreamSemanticGate.gateBatch(
      rows(epoch, 200L).select(col("id").as("vec_id"),
        array((0 until 4).map(j => sin(col("id") * (j + 1))): _*).as("v")),
      col("vec_id"), col("v"), s"$root/vectors", epoch, (_, _) => ())
    def fp(epoch: Long): Long = StreamMediaDedup.dedupFpBatch(
      rows(epoch).select(col("id"), xxhash64(col("id") % 1000).as("simhash")),
      s"$root/fps", epoch, (_, _) => ())
    // every kind in every epoch, so no gate reads an empty side (AQE skips
    // the stages behind an empty one, and how many depends on timing): a
    // new image, one that epoch 0 accepted, a re-gained clip, a new GIF
    // and a new MP3
    val samples = Array.tabulate(400)(i => (Multimodal.syntheticSample(4L, i) >> 2).toShort)
    def typed(epoch: Long): Long = StreamMediaDedup.typedDedupBatch(
      Seq(
        Multimodal.syntheticImage(epoch + 100, 24, 20, "png"),
        Multimodal.syntheticImage(1L, 24, 20, "png"),
        Multimodal.wavFromSamples(samples.map(x => (x + epoch).toShort), 16000),
        Multimodal.syntheticGif(epoch + 7, 24, 20, 4),
        Multimodal.syntheticMp3(epoch + 11, 6, 44100)
      ).zipWithIndex.map { case (c, j) => Multimodal.MediaRow(epoch * 10 + j, "blob", c) }.toDS(),
      s"$root/typed", epoch, (_, _) => ())
    // 100 prompts with two candidates each, half of them new each epoch
    def sft(epoch: Long): Long = StreamSft.sftBatch(
      rows(epoch, 200L).select(col("id").as("cand_id"),
        concat(lit("user: prompt "), ((col("id") % 100) + epoch * 50).cast("string"),
          lit("\nassistant: answer "), col("id").cast("string")).as("text"),
        (col("id") % 7).cast("double").as("score")),
      "text", col("cand_id"), col("score"), s"$root/prompts", epoch, (_, _) => ())._1
    // one line in 25 corrupt, one doc in 5 on a disallowed path, 150
    // distinct texts
    val robots = Seq(("d", "User-agent: *\nDisallow: /private\n")).toDF("domain", "txt")
    def ingest(epoch: Long): Long = StreamWebIngest.ingestBatch(
      rows(epoch, 200L).select(col("id").as("lid"),
        concat(col("id").cast("string"), lit(",\"text "), (col("id") % 150).cast("string"), lit("\",en,"),
          when(col("id") % 25 === 0, lit("BAD")).otherwise(lit("10"))).as("line")),
      col("lid"), col("line"), lit("d"),
      concat(when(col("doc_id") % 5 === 0, lit("/private/x")).otherwise(lit("/pub/x")), col("doc_id")),
      robots, col("domain"), col("txt"), "anybot", s"$root/web", epoch, (_, _) => ())._1
    val sites = Seq[(String, Long => Long)]("dedup" -> dedup, "as-of" -> enrich, "linkage" -> link,
      "semantic gate" -> gate, "media fp" -> fp, "typed media" -> typed, "sft" -> sft, "web ingest" -> ingest)
    (0L to 2L).foreach(e => sites.foreach(_._2(e)))
    val warm = sites.map { case (name, site) =>
      var n = -1L
      val jobs = jobsOf { n = site(3L) }
      name -> ((jobs, n))
    }.toMap
    info(s"warm epoch (jobs, count): $warm")
    assert(warm("dedup")._2 == 0L, s"a warm epoch of re-ingests kept ${warm("dedup")._2} docs")
    assert(warm("as-of")._2 == 1500L, s"warm enrichBatch enriched ${warm("as-of")._2} rows")
    assert(warm("typed media")._2 == 3L, s"warm typedDedupBatch kept ${warm("typed media")._2} items")
    // the last four read their stores with the written schema, so no
    // schema-inference job runs (each was one job more before). Linkage's
    // budget is its worst run: AQE may skip stages behind an empty side,
    // depending on timing. Neither media gate pins, and each kind is one
    // join against prior ∪ batch
    val budgets = Map("dedup" -> 2, "as-of" -> 5, "linkage" -> 31, "semantic gate" -> 14, "media fp" -> 7,
      "typed media" -> 11, "sft" -> 7, "web ingest" -> 15)
    val checks = new org.scalatest.Checkpoints.Checkpoint
    budgets.foreach { case (name, budget) =>
      checks(assert(warm(name)._1 <= budget, s"warm $name fired ${warm(name)._1} jobs (budget $budget)"))
    }
    checks.reportAll()
  }

  test("GraftService.wrapDedup: job budget of a warm epoch on binary payloads (default DedupConf)") {
    val store = java.nio.file.Files.createTempDirectory("graft-svc-budget").toString + "/digests"
    val sink = graft.runtime.GraftService.wrapDedup(graft.runtime.GraftService.DedupConf(store), (_, _) => ())
    // 2,000 frames per epoch over 1,500 distinct payloads, half of each
    // epoch's payloads seen in the epoch before
    def frames(epoch: Long) = spark.range(0L, 2000L).select(
      encode(concat(lit("frame "), ((col("id") % 1500) + epoch * 750L).cast("string")), "UTF-8").as("payload"))
    (0L to 2L).foreach(e => sink(frames(e), e))
    val jobs = jobsOf(sink(frames(3L), 3L))
    val accepted = spark.read.parquet(s"$store/epoch=3").count()
    assert(accepted == 750L, s"a warm epoch accepted $accepted payloads")
    assert(jobs <= 2, s"warm wrapDedup fired $jobs jobs (budget 2)")
    info(s"warm wrapDedup epoch jobs: $jobs")
  }

  test("StreamCurate: quality-gated, PII-scrubbed, cross-batch-deduped ingestion") {
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("graft-curate-store").toString + "/digests"
    val accepted = scala.collection.concurrent.TrieMap.empty[Long, String]
    // passes the (relaxed) gate: >= 4 words, one stopword
    val good = "the quick brown fox jumps over reach me at bob@mail.example.org today"
    val goodOtherPii = "the quick brown fox jumps over reach me at eve@mail.example.org today"
    val fresh = "a completely different document with enough words to pass the gate"
    val input = MemoryStream[(Long, String)]
    val q = input
      .toDF()
      .toDF("doc_id", "text")
      .writeStream
      .foreachBatch(
        graft.streaming.StreamCurate.curateSink(
          "text",
          col("doc_id"),
          store,
          (kept, _) => kept.collect().foreach(r => accepted.put(r.getLong(0), r.getString(1))),
          minWords = 4,
          minStopHits = 1
        )
      )
      .start()
    try {
      input.addData((1L, good), (2L, "too short"), (3L, good))
      q.processAllAvailable()
      // 2 fails the gate; 3 collapses onto 1 within the batch
      assert(accepted.keySet == Set(1L), s"batch 1 survivors wrong: $accepted")
      assert(
        accepted(1L).contains("<EMAIL>") && !accepted(1L).contains("bob@"),
        s"accepted text must be redacted: ${accepted(1L)}"
      )

      // 10: re-ingest of doc 1 with DIFFERENT PII — the digest keys the
      // scrubbed text, so it still collapses and is dropped; 11 is new
      input.addData((10L, goodOtherPii), (11L, fresh))
      q.processAllAvailable()
      assert(accepted.keySet == Set(1L, 11L), s"batch 2 survivors wrong: $accepted")
    } finally q.stop()
  }

  test("StreamSft: parse → loss gate → pairs per prompt, cross-batch prompt dedup, replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("graft-sft-store").toString + "/prompts"
    def convo(prompt: String, answer: String) = s"user: $prompt\nassistant: $answer"
    val p1 = "what is the capital of atlantis"
    val p2 = "summarize the maritime treaty"
    val p3 = "translate the harbor codex"
    val accepted = scala.collection.concurrent.TrieMap.empty[Long, (Long, Long)] // chosen -> (rejected, n_cands)
    val input = MemoryStream[(Long, String, Double)]
    val q = input
      .toDF()
      .toDF("cand_id", "text", "score")
      .writeStream
      .foreachBatch(
        graft.streaming.StreamSft.sftSink(
          "text",
          col("cand_id"),
          col("score"),
          store,
          (pairs, _) =>
            pairs.collect().foreach { r =>
              accepted.put(
                r.getAs[Long]("chosen_id"),
                (r.getAs[Long]("rejected_id"), r.getAs[Long]("n_candidates"))
              )
            }
        )
      )
      .start()
    try {
      input.addData(
        (1L, convo(p1, "a long and helpful canonical answer"), 0.9),
        (2L, convo(p1, "nope"), 0.2),
        (3L, convo(p2, "a vague partial answer"), 0.5),
        (4L, convo(p2, "a careful complete answer"), 0.7),
        (5L, s"user: $p1", 0.99) // zero supervised tokens → loss-gated out, never a candidate
      )
      q.processAllAvailable()
      assert(accepted.toMap == Map(1L -> (2L, 2L), 4L -> (3L, 2L)), s"epoch-0 pairs wrong: $accepted")

      input.addData(
        (6L, convo(p1, "a brand new competitor answer"), 0.95), // p1 already shipped a pair
        (7L, convo(p1, "another one"), 0.1),
        (8L, convo(p3, "tide tables and star charts"), 0.8),
        (9L, convo(p3, "illegible"), 0.3)
      )
      q.processAllAvailable()
      assert(
        accepted.toMap == Map(1L -> (2L, 2L), 4L -> (3L, 2L), 8L -> (9L, 2L)),
        s"epoch-1 must add only the p3 pair: $accepted"
      )
    } finally q.stop()

    // replay epoch 1 against its own stored digests: same single p3 pair,
    // the p1 pair still suppressed, the store not poisoned
    val replayPairs = scala.collection.mutable.Set.empty[(Long, Long)]
    val replayBatch = Seq(
      (6L, convo(p1, "a brand new competitor answer"), 0.95),
      (7L, convo(p1, "another one"), 0.1),
      (8L, convo(p3, "tide tables and star charts"), 0.8),
      (9L, convo(p3, "illegible"), 0.3)
    ).toDF("cand_id", "text", "score")
    val (nPairs, nDropped) = graft.streaming.StreamSft.sftBatch(
      replayBatch, "text", col("cand_id"), col("score"), store, epoch = 1L,
      (pairs, _) =>
        pairs.collect().foreach(r => replayPairs.add((r.getAs[Long]("chosen_id"), r.getAs[Long]("rejected_id"))))
    )
    assert(nPairs == 1L && nDropped == 0L && replayPairs == Set((8L, 9L)), s"replay diverged: $nPairs $nDropped $replayPairs")
  }

  test("csvIngest runs unchanged under a streaming source with corrupt accounting observable") {
    // the ingest op is a pure projection, so batch/stream symmetry is
    // free — and corrupt lines must flag, not fail, mid-stream.
    val in = MemoryStream[String](spark)
    val parsed = graft.operators.CorpusOps
      .csvIngest(
        // monotonically_increasing_id is unsupported on streams — a
        // content hash is the streaming-native line id
        in.toDF().withColumn("lid", xxhash64(col("value"))),
        col("lid"),
        col("value")
      )
    in.addData(
      "1,\"ok, quoted\",en,10",
      "2,\"bad\",en,NOTINT",
      "3,plain,fr,5"
    )
    val out = runToMemory(parsed, "csv_stream")
    val rows = out.select("doc_id", "text", "is_corrupt").collect()
    assert(rows.length == 3)
    assert(rows.count(_.getBoolean(2)) == 1)
    assert(rows.filter(!_.getBoolean(2)).map(_.getString(1)).toSet == Set("ok, quoted", "plain"))
  }

  test("StreamWebIngest: corrupt lines counted, robots-blocked dropped, cross-batch dedup holds") {
    import graft.streaming.StreamWebIngest
    val dir = java.nio.file.Files.createTempDirectory("webingest").toString
    val store = s"$dir/digests"
    val robots = Seq(("d", "User-agent: *\nDisallow: /private\n")).toDF("domain", "txt")
    val acceptedIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    val accept: (org.apache.spark.sql.DataFrame, Long) => Unit =
      (df, _) => acceptedIds ++= df.select("doc_id").as[Long].collect()

    def mkBatch(rows: Seq[(Long, String)]) = rows.toDF("lid", "line")
    def run(epoch: Long, rows: Seq[(Long, String)]) =
      StreamWebIngest.ingestBatch(
        mkBatch(rows), col("lid"), col("line"),
        lit("d"),
        concat(when(col("doc_id") % 2 === 0, lit("/private/x")).otherwise(lit("/pub/x")), col("doc_id")),
        robots, col("domain"), col("txt"), "anybot",
        store, epoch, accept
      )

    // epoch 1: doc 1 ok (/pub), doc 2 blocked (/private), corrupt line,
    // a well-formed line with NULL doc_id (invalid, not corrupt), doc 3 ok
    val r1 = run(1L, Seq(
      (1L, "1,\"alpha text\",en,10"),
      (2L, "2,\"beta text\",en,9"),
      (3L, "3,\"gamma\",fr,BAD"),
      (7L, ",\"no id text\",en,10"),
      (4L, "3,\"gamma text\",fr,10")
    ))
    assert(r1 == ((2L, 1L, 1L, 1L)), s"epoch1 (accepted,corrupt,invalid,blocked): $r1")
    assert(acceptedIds.sorted == Seq(1L, 3L))

    // epoch 2: re-ingest doc 1 (deduped), new doc 5 accepted
    val r2 = run(2L, Seq(
      (5L, "1,\"alpha text\",en,10"),
      (6L, "5,\"delta text\",de,10")
    ))
    assert(r2 == ((1L, 0L, 0L, 0L)), s"epoch2: $r2")
    assert(acceptedIds.sorted == Seq(1L, 3L, 5L))

    // duplicate doc_id with DIFFERENT paths must gate PER ROW, not per
    // doc_id: doc 9 arrives twice, once on /pub (line 9, allowed) and
    // once on /private (line 8, blocked) — the blocked row must not
    // ride the allowed row's verdict
    val r3 = StreamWebIngest.ingestBatch(
      mkBatch(Seq(
        (8L, "9,\"epsilon text\",en,12"),
        (9L, "9,\"epsilon other\",en,13")
      )),
      col("lid"), col("line"),
      lit("d"),
      concat(when(col("line_id") % 2 === 0, lit("/private/x")).otherwise(lit("/pub/x")), col("doc_id")),
      robots, col("domain"), col("txt"), "anybot",
      store, 3L, accept
    )
    assert(r3 == ((1L, 0L, 0L, 1L)), s"epoch3 (per-row gating): $r3")
  }

  test("StreamAsOf: events enrich against accumulated observations; replay idempotent") {
    import graft.streaming.StreamAsOf
    val store = java.nio.file.Files.createTempDirectory("graft_asof_store").toString
    var delivered = Vector.empty[(Long, Seq[(Long, Long, String, Option[Double])])]
    def acc(df: org.apache.spark.sql.DataFrame, ep: Long): Unit =
      delivered :+= (ep -> df
        .select(col("k"), col("t"), col("ev"), col("price"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))
        .sortBy(x => (x._1, x._2))
        .toSeq)
    // epoch 0: one observation (k=1, t=100, price=10), no events
    val obs0 = Seq((1L, 100L, 10.0)).toDF("k", "t", "price")
    val ev0 = Seq.empty[(Long, Long, String)].toDF("k", "t", "ev")
    assert(StreamAsOf.enrichBatch(ev0, obs0, "k", "t", store, 0L, acc) == 0L)
    // epoch 1: fresh observations + events; an event must see BOTH the
    // stored epoch-0 observation and its own batch's (same-batch
    // visibility), and an event before any observation stays null
    val obs1 = Seq((1L, 300L, 20.0), (2L, 50L, 5.0)).toDF("k", "t", "price")
    val ev1 = Seq(
      (1L, 250L, "a"), // after epoch-0 obs, before epoch-1 obs -> 10
      (1L, 350L, "b"), // after the same-batch obs -> 20
      (2L, 40L, "c"), // before k=2's first observation -> null
      (2L, 60L, "d") // after the same-batch obs -> 5
    ).toDF("k", "t", "ev")
    assert(StreamAsOf.enrichBatch(ev1, obs1, "k", "t", store, 1L, acc) == 4L)
    val want = Seq(
      (1L, 250L, "a", Some(10.0)),
      (1L, 350L, "b", Some(20.0)),
      (2L, 40L, "c", None),
      (2L, 60L, "d", Some(5.0))
    )
    assert(delivered(1) == (1L -> want), s"epoch-1 enrich wrong: ${delivered(1)}")
    // REPLAY epoch 1 (crash-after-store-write): identical output — the
    // store's own epoch partition is excluded, so the batch never joins
    // against its first attempt twice
    assert(StreamAsOf.enrichBatch(ev1, obs1, "k", "t", store, 1L, acc) == 4L)
    assert(delivered(2) == (1L -> want), "replay diverged")
    // epoch 2: history spans epochs — latest-at-or-before wins across them
    val ev2 = Seq((1L, 275L, "e"), (1L, 999L, "f")).toDF("k", "t", "ev")
    val obs2 = Seq.empty[(Long, Long, Double)].toDF("k", "t", "price")
    assert(StreamAsOf.enrichBatch(ev2, obs2, "k", "t", store, 2L, acc) == 2L)
    assert(
      delivered(3)._2 == Seq((1L, 275L, "e", Some(10.0)), (1L, 999L, "f", Some(20.0))),
      s"cross-epoch history wrong: ${delivered(3)}"
    )
    // chunked path delivers the same rows
    var chunkedOut: Seq[(Long, Long, String, Option[Double])] = Nil
    StreamAsOf.enrichBatch(
      ev2, obs2, "k", "t", store, 2L,
      (df, _) => chunkedOut = df.select(col("k"), col("t"), col("ev"), col("price"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))
        .sortBy(x => (x._1, x._2)).toSeq,
      chunked = true
    )
    assert(chunkedOut == delivered(3)._2, "chunked enrich diverged")
  }

  test("streaming router multicast == batch router multicast (O-13)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    input.addData((1L, "heartbeat"), (2L, "other"), (3L, "heartbeat"))
    val streamDf = input
      .toDF()
      .toDF("id", "tpe")
      .withColumn("properties", map(lit("type"), col("tpe")))
    val routed = Router.route(streamDf, Router.referenceRules)
    val got = runToMemory(routed.select(col("id"), col("subject")), "routed_stream")
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .toSet
    assert(got == Set((1L, "heartbeats"), (3L, "heartbeats"), (2L, "dev-test")))
  }

  test("streaming 1s throughput window with watermark (O-15)") {
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    val input = MemoryStream[(Timestamp, Int)]
    input.addData(
      (new Timestamp(base + 100), 10),
      (new Timestamp(base + 600), 20),
      (new Timestamp(base + 1200), 30),
      (new Timestamp(base + 30000), 1) // watermark pusher
    )
    val df = input.toDF().toDF("ts", "size")
    val agg = StreamRuntime.throughput(df, "ts", col("size"))
    val got = runToMemory(agg, "tp_stream")
      .select(unix_millis(col("window_start")).as("w"), col("messages"), col("bytes"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got.contains((base, 2L, 30L)))
    assert(got.contains((base + 1000, 1L, 30L)))
  }

  test("AvailableNow drain processes everything then stops (O-16)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    input.addData(1L to 100L: _*)
    val w = input.toDF().toDF("v").writeStream.format("memory").queryName("drain_t")
    val q = StreamRuntime.drainAndStop(w)
    assert(!q.isActive) // stopped by itself after draining
    assert(spark.table("drain_t").count() == 100)
  }

  test("fan-out: one micro-batch lands in every attached sink (O-7)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    input.addData(1L, 2L, 3L)
    val sunk = scala.collection.concurrent.TrieMap.empty[String, Long]
    val sinks = Map[String, org.apache.spark.sql.DataFrame => Unit](
      "main-nb" -> (b => sunk.updateWith("main-nb")(v => Some(v.getOrElse(0L) + b.count()))),
      "log-nb" -> (b => sunk.updateWith("log-nb")(v => Some(v.getOrElse(0L) + b.count())))
    )
    val q = StreamRuntime.fanOutSink(input.toDF().toDF("v"), sinks).start()
    q.processAllAvailable()
    q.stop()
    assert(sunk("main-nb") == 3 && sunk("log-nb") == 3)
  }

  /** Run `sinks` (in order) as one fan-out query over `rows` longs; the
    * query's error, if it failed, and its run id.
    */
  private def fanOut(rows: Seq[Long], sinks: (String, org.apache.spark.sql.DataFrame => Unit)*)
      : (Option[Throwable], String) = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    input.addData(rows: _*)
    val q = StreamRuntime.fanOutSink(input.toDF().toDF("v"), scala.collection.immutable.ListMap(sinks: _*)).start()
    val err =
      try { q.processAllAvailable(); None }
      catch { case e: org.apache.spark.sql.streaming.StreamingQueryException => Some(e) }
      finally q.stop()
    (err, q.runId.toString)
  }

  test("fan-out: when the first of 3 sinks throws, the other two still get the batch and the epoch fails with it") {
    val sunk = scala.collection.concurrent.TrieMap.empty[String, Long]
    val (err, _) = fanOut(
      1L to 100L,
      "first" -> (_ => throw new IllegalStateException("first sink down")),
      "second" -> (b => { sunk.put("second", b.count()); () }),
      "third" -> (b => { sunk.put("third", b.count()); () })
    )
    assert(sunk == Map("second" -> 100L, "third" -> 100L), s"sinks after the failing one: $sunk")
    val causes = Iterator.iterate(err.orNull: Throwable)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[IllegalStateException] && c.getMessage == "first sink down"),
      s"the query must fail with the first sink's error: ${causes.mkString(" <- ")}")
  }

  test("fan-out: the batch is computed once however many sinks read it concurrently") {
    val acc = spark.sparkContext.longAccumulator("fan-out upstream rows")
    val counting = udf((v: Long) => { acc.add(1L); v }).asNondeterministic()
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    input.addData(1L to 4000L: _*)
    val upstream = input.toDF().repartition(8).select(counting(col("value")).as("v"))
    val counts = scala.collection.concurrent.TrieMap.empty[String, Long]
    val sinks = scala.collection.immutable.ListMap((1 to 3).map { i =>
      s"sink-$i" -> ((b: org.apache.spark.sql.DataFrame) => { counts.put(s"sink-$i", b.count()); () })
    }: _*)
    val q = StreamRuntime.fanOutSink(upstream, sinks).start()
    try q.processAllAvailable()
    finally q.stop()
    assert(counts.values.toSet == Set(4000L) && counts.size == 3, s"$counts")
    assert(acc.value == 4000L, s"upstream rows evaluated ${acc.value} times for 4000 rows")
  }

  test("fan-out: every sink's jobs carry the caller's job group") {
    val groups = scala.collection.concurrent.TrieMap.empty[String, Set[String]]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("graft.test.sink"))).foreach { sink =>
          groups.updateWith(sink)(g => Some(g.getOrElse(Set.empty) + js.properties.getProperty("spark.jobGroup.id")))
          ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    def tagged(name: String): org.apache.spark.sql.DataFrame => Unit = b => {
      spark.sparkContext.setLocalProperty("graft.test.sink", name)
      try { b.count(); () }
      finally spark.sparkContext.setLocalProperty("graft.test.sink", null)
    }
    val (err, runId) =
      try fanOut(1L to 10L, "a" -> tagged("a"), "b" -> tagged("b"), "c" -> tagged("c"))
      finally {
        org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext, 10000L)
        spark.sparkContext.removeSparkListener(listener)
      }
    assert(err.isEmpty, s"$err")
    // a streaming query runs its batches under its run id as the job group
    assert(groups == Map("a" -> Set(runId), "b" -> Set(runId), "c" -> Set(runId)), s"$groups")
  }

  test("streaming dedup: dropDuplicatesWithinWatermark bounds state") {
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    val input = MemoryStream[(Timestamp, String)]
    input.addData(
      (new Timestamp(base), "a"),
      (new Timestamp(base + 100), "a"), // dup within watermark
      (new Timestamp(base + 200), "b")
    )
    val deduped = input
      .toDF()
      .toDF("ts", "k")
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("k")
    val got = runToMemory(deduped, "dedup_stream").collect().map(_.getString(1)).sorted.toSeq
    assert(got == Seq("a", "b"))
  }

  test("streaming session windows with watermark (gap merge)") {
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    val input = MemoryStream[(Timestamp, Long)]
    input.addData(
      (new Timestamp(base), 1L),
      (new Timestamp(base + 2000), 1L), // same session (gap 5s)
      (new Timestamp(base + 20000), 1L), // new session
      (new Timestamp(base + 600000), 2L) // watermark pusher
    )
    val sessions = input
      .toDF()
      .toDF("ts", "user")
      .withWatermark("ts", "10 seconds")
      .groupBy(col("user"), session_window(col("ts"), "5 seconds").as("sw"))
      .agg(count(lit(1)).as("n"))
    val got = runToMemory(sessions, "session_stream")
      .select(col("user"), col("n"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(got.contains((1L, 2L)) && got.contains((1L, 1L)))
  }

  test("watermark boundary: a row arriving BELOW the advanced watermark is dropped, not re-aggregated") {
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    def ts(sec: Long) = new Timestamp(base + sec * 1000)
    val input = MemoryStream[(Timestamp, Long)]
    val agg = input
      .toDF()
      .toDF("ts", "v")
      .withWatermark("ts", "10 seconds")
      .groupBy(window(col("ts"), "10 seconds").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").cast("long").as("ws"), col("n"))
    val q = agg.writeStream.format("memory").queryName("late_agg").outputMode("append").start()
    try {
      // batch 1: one row in window [50,60) + a pusher at t=100
      // -> watermark after the batch = 100 - 10 = 90s, window finalized n=1
      input.addData((ts(55), 1L), (ts(100), 1L))
      q.processAllAvailable()
      // batch 2: a LATE row for the same window (t=56 < watermark 90)
      // must be dropped at the boundary; pusher at t=200 closes the rest
      input.addData((ts(56), 1L), (ts(200), 1L))
      q.processAllAvailable()
      val got = spark.table("late_agg").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got((base / 1000 + 50)) == 1L, s"late row leaked into the finalized window: $got")
      // exactly one emission for that window (append mode can't re-emit)
      val emissions = spark.table("late_agg").collect().count(_.getLong(0) == base / 1000 + 50)
      assert(emissions == 1)
      // the engine accounted for the drop (observability, not silence) —
      // scan recentProgress: the last batch is usually a no-data batch
      val dropped = q.recentProgress.toSeq
        .flatMap(_.stateOperators.toSeq).map(_.numRowsDroppedByWatermark).sum
      assert(dropped >= 1L, "expected numRowsDroppedByWatermark >= 1")
    } finally q.stop()
  }

  test("cross-batch dedup: out-of-order arrivals within the watermark dedup exactly; below it they drop") {
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    def ts(sec: Long) = new Timestamp(base + sec * 1000)
    val input = MemoryStream[(Timestamp, String)]
    val deduped = input
      .toDF()
      .toDF("ts", "k")
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("k")
    val q = deduped.writeStream.format("memory").queryName("xbatch_dedup").outputMode("append").start()
    try {
      // batch 1: k1/k2 arrive OUT OF ORDER (k2's event time earlier);
      // watermark after the batch = 35 - 10 = 25s
      input.addData((ts(30), "k1"), (ts(25), "k2"), (ts(35), "k0"))
      q.processAllAvailable()
      // batch 2, reordered arrivals: k1@32 and k2@26 are cross-batch dups
      // (state still within watermark) -> dropped as duplicates; k3@28 is
      // out-of-order but ABOVE the 25s watermark -> kept; k4@10 is BELOW
      // the watermark -> dropped as late
      input.addData((ts(32), "k1"), (ts(26), "k2"), (ts(28), "k3"), (ts(10), "k4"))
      q.processAllAvailable()
      val got = spark.table("xbatch_dedup").collect().map(_.getString(1)).sorted.toSeq
      assert(got == Seq("k0", "k1", "k2", "k3"), s"cross-batch dedup wrong: $got")
    } finally q.stop()
  }

  test("checkpoint recovery: restart resumes from committed offsets, no reprocessing") {
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt")
    val dataDir = root.resolve("data").toString
    val ckpt = root.resolve("ckpt").toString
    val seen = scala.collection.concurrent.TrieMap.empty[Long, Int]

    def writeBatch(ids: Seq[Long]): Unit =
      ids.toDF("id").coalesce(1).write.mode("append").parquet(dataDir)

    def runOnce(): Unit = {
      val q = spark.readStream
        .schema("id LONG")
        .parquet(dataDir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => seen.updateWith(r.getLong(0))(v => Some(v.getOrElse(0) + 1)))
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    writeBatch(1L to 5L)
    runOnce()
    assert(seen.keySet == (1L to 5L).toSet)
    writeBatch(6L to 8L)
    runOnce() // same checkpoint: must process ONLY the new files
    assert(seen.keySet == (1L to 8L).toSet)
    assert(seen.values.forall(_ == 1), s"reprocessed rows: ${seen.filter(_._2 > 1)}")
  }

  test("streaming codec pipeline: frames decode in-stream (O-8/O-9)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.codecs
    val input = MemoryStream[(Long, Long, Long)]
    input.addData((72L, 0L, 1700L), (72L, 1L, 1701L))
    val df = input
      .toDF()
      .toDF("c", "s", "t")
      .select(codecs.encode_heartbeat(col("c"), col("s"), col("t")).as("frame"))
      .select(codecs.hb_client_id(col("frame")).as("client_id"), codecs.hb_sequence(col("frame")).as("seq"))
    val got = runToMemory(df, "codec_stream").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((72L, 0L), (72L, 1L)))
  }

  test("StreamLinkage: attach to stored entities, new entities, merge observation, replay idempotent") {
    import spark.implicits._
    import graft.streaming.StreamLinkage
    val store = java.nio.file.Files.createTempDirectory("graft-link-store").toString + "/keys"
    val accepted = scala.collection.mutable.Map.empty[Long, (Long, Boolean, Long)]
    val acc: (org.apache.spark.sql.DataFrame, Long) => Unit = (df, _) =>
      df.collect().foreach { r =>
        accepted(r.getAs[Long]("id")) =
          ((r.getAs[Long]("entity"), r.getAs[Boolean]("matched_store"), r.getAs[Long]("n_matched_entities")))
      }

    // epoch 0: 1≈2 ("alphaXX corp" / "alphaXX corp.") cluster; 4 and 5
    // ("bravoXX/bravoYY corp") are near each other but BELOW threshold
    // (two substitutions: jw 0.9333 < 0.95) → distinct entities; the
    // bravo family shares no prefix with alpha, so nothing cross-matches
    val e0 = Seq(
      (1L, "alphaXX corp", "a"),
      (2L, "alphaXX corp.", "a"),
      (3L, "beta llc", "b"),
      (4L, "bravoXX corp", "a"),
      (5L, "bravoYY corp", "a")
    ).toDF("id", "s", "blk")
    val n0 = StreamLinkage.linkBatch(e0, col("id"), col("s"), col("blk"), 0.95, store, 0L, acc)
    assert(n0 == 5)
    assert(accepted(1L)._1 == 1L && accepted(2L)._1 == 1L, s"1,2 must share entity 1: $accepted")
    assert(accepted(3L)._1 == 3L && accepted(4L)._1 == 4L && accepted(5L)._1 == 5L)
    assert(accepted.values.forall(!_._2), "epoch 0 had an empty store: nothing matches it")

    // epoch 1: 10 attaches to entity 1; 11+12 form a NEW entity 11;
    // 13 = "bravoXY corp" bridges stored entities 4 and 5 (one
    // substitution to each: jw 0.9667 ≥ 0.95) → entity = min(4,5) = 4,
    // flagged with 2 matched entities
    accepted.clear()
    val e1 = Seq(
      (10L, "alphaXX corp!", "a"),
      (11L, "gamma inc", "g"),
      (12L, "gamma inc.", "g"),
      (13L, "bravoXY corp", "a")
    ).toDF("id", "s", "blk")
    val n1 = StreamLinkage.linkBatch(e1, col("id"), col("s"), col("blk"), 0.95, store, 1L, acc)
    assert(n1 == 4)
    assert(accepted(10L) == ((1L, true, 1L)), s"10 must attach to entity 1: $accepted")
    assert(accepted(11L) == ((11L, false, 0L)) && accepted(12L) == ((11L, false, 0L)))
    assert(accepted(13L)._1 == 4L && accepted(13L)._2, s"13 must take min entity: $accepted")
    assert(accepted(13L)._3 == 2L, s"13 must flag the 2-entity merge observation: $accepted")

    // replay epoch 1 (crash-after-store): identical assignments re-derive
    val before = accepted.toMap
    accepted.clear()
    val n1r = StreamLinkage.linkBatch(e1, col("id"), col("s"), col("blk"), 0.95, store, 1L, acc)
    assert(n1r == 4 && accepted.toMap == before, s"replay diverged: $accepted vs $before")
  }

  test("StreamLinkage: string ids — epoch-0 fallback schema follows the batch id type") {
    import spark.implicits._
    import graft.streaming.StreamLinkage
    val store = java.nio.file.Files.createTempDirectory("graft-link-store-str").toString + "/keys"
    val accepted = scala.collection.mutable.Map.empty[String, (String, Boolean)]
    val acc: (org.apache.spark.sql.DataFrame, Long) => Unit = (df, _) =>
      df.collect().foreach { r =>
        accepted(r.getAs[String]("id")) =
          ((r.getAs[String]("entity"), r.getAs[Boolean]("matched_store")))
      }
    // epoch 0 exercises the empty-store fallback: before the fix, the
    // hardcoded LongType store schema coerced/broke string ids here
    val e0 = Seq(
      ("doc-1", "alphaXX corp", "a"),
      ("doc-2", "alphaXX corp.", "a"),
      ("doc-3", "beta llc", "b")
    ).toDF("id", "s", "blk")
    val n0 = StreamLinkage.linkBatch(e0, col("id"), col("s"), col("blk"), 0.95, store, 0L, acc)
    assert(n0 == 3)
    assert(accepted("doc-1")._1 == "doc-1" && accepted("doc-2")._1 == "doc-1")
    assert(accepted("doc-3")._1 == "doc-3")
    // epoch 1 reads the epoch-0 parquet store back: schemas must agree
    accepted.clear()
    val e1 = Seq(("doc-9", "alphaXX corp!", "a")).toDF("id", "s", "blk")
    val n1 = StreamLinkage.linkBatch(e1, col("id"), col("s"), col("blk"), 0.95, store, 1L, acc)
    assert(n1 == 1)
    assert(accepted("doc-9") == (("doc-1", true)), s"string id must attach to stored entity: $accepted")
  }

  test("StreamMediaDedup: cross-batch perceptual gate — twins collapse, replay idempotent") {
    import graft.operators.Multimodal
    val store = java.nio.file.Files.createTempDirectory("graft-media-fp").toString + "/fps"
    def media(rows: (Long, Array[Byte])*) =
      rows.map { case (id, c) => Multimodal.MediaRow(id, "image", c) }.toDS()
    // same pixel plane in two containers: identical aHash (the x167
    // lossless contract) — the re-encoded-copy regime
    val imgA = Multimodal.syntheticImage(1L, 32, 24, "png")
    val imgAbmp = Multimodal.syntheticImage(1L, 32, 24, "bmp")
    val imgC = Multimodal.syntheticImage(9L, 32, 24, "png")
    var got = Map.empty[Long, Set[Long]]
    def acc(df: org.apache.spark.sql.DataFrame, ep: Long): Unit =
      got += ep -> df.select(col("id")).collect().map(_.getLong(0)).toSet
    // epoch 0: A + its BMP twin → smaller id survives the within-batch gate
    val n0 = graft.streaming.StreamMediaDedup
      .dedupFpBatch(Multimodal.aHash(media(10L -> imgA, 11L -> imgAbmp)), store, 0L, acc)
    assert(n0 == 1 && got(0L) == Set(10L), s"epoch 0: $got")
    // epoch 1: A re-ingested (re-encoded) + fresh C → only C survives
    val n1 = graft.streaming.StreamMediaDedup
      .dedupFpBatch(Multimodal.aHash(media(20L -> imgAbmp, 21L -> imgC)), store, 1L, acc)
    assert(n1 == 1 && got(1L) == Set(21L), s"epoch 1: $got")
    // replayed epoch 1: the store excludes its own first attempt, so the
    // same survivors re-derive (at-least-once accept, exactly-once store)
    val n1b = graft.streaming.StreamMediaDedup
      .dedupFpBatch(Multimodal.aHash(media(20L -> imgAbmp, 21L -> imgC)), store, 1L, acc)
    assert(n1b == 1 && got(1L) == Set(21L), s"epoch 1 replay: $got")
    // audio fingerprints ride the same gate: an amplitude-doubled clip
    // of an accepted clip is dropped cross-batch
    val base = Array.tabulate(300)(i => (Multimodal.syntheticSample(7L, i) >> 2).toShort)
    val a0 = graft.streaming.StreamMediaDedup.dedupFpBatch(
      Multimodal.audioFingerprints(
        media(30L -> Multimodal.wavFromSamples(base))), store, 2L, acc)
    assert(a0 == 1 && got(2L) == Set(30L))
    val a1 = graft.streaming.StreamMediaDedup.dedupFpBatch(
      Multimodal.audioFingerprints(
        media(31L -> Multimodal.wavFromSamples(base.map(x => (x * 2).toShort)))), store, 3L, acc)
    assert(a1 == 0 && got(3L) == Set.empty[Long], s"scaled clip must drop: $got")
  }

  test("StreamMediaDedup.dedupFpBatch: survivors and store match an all-pairs reference over stored ∪ batch") {
    import graft.streaming.StreamMediaDedup
    val rnd = new scala.util.Random(20261019L)
    // near-dup families: 6 base fingerprints, members 0-4 flipped bits away
    val bases = Vector.fill(6)(rnd.nextLong())
    def member(): Long = (0 until rnd.nextInt(5)).foldLeft(bases(rnd.nextInt(bases.size)))((h, _) =>
      h ^ (1L << rnd.nextInt(64)))
    for (mh <- Seq(0, 2, 3)) {
      val store = java.nio.file.Files.createTempDirectory(s"graft-fp-ref-$mh").toString + "/fps"
      var stored = Vector.empty[(Long, Long)]
      (0 until 3).foreach { epoch =>
        // later epochs take smaller ids, so a stored killer is never the
        // smaller id
        val fresh = (0 until 30).map(j => ((3 - epoch) * 100L + j) -> member()).toVector
        // epoch 0: an exact duplicate fingerprint under a larger id; later
        // epochs: a batch id that is also a stored id
        val batch =
          if (epoch == 0) fresh :+ (399L -> fresh(3)._2)
          else fresh :+ (stored(rnd.nextInt(stored.size))._1 -> member())
        def near(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b) <= mh
        val expected = batch.filterNot { case (id, h) =>
          stored.exists(s => near(s._2, h)) || batch.exists { case (oid, oh) => oid < id && near(oh, h) }
        }.map(_._1).sorted
        var got = Seq.empty[Long]
        val n = StreamMediaDedup.dedupFpBatch(batch.toDF("id", "simhash"), store, epoch.toLong,
          (df, _) => got = df.select(col("id")).collect().map(_.getLong(0)).toSeq.sorted, maxHamming = mh)
        assert(got == expected && n == expected.size, s"maxHamming $mh, epoch $epoch: $got vs $expected")
        stored ++= batch
        val inStore = spark.read.parquet(store).select(col("id"), col("simhash")).as[(Long, Long)].collect()
        assert(inStore.sorted.toSeq == stored.sorted, s"maxHamming $mh, epoch $epoch: store")
      }
    }
  }

  test("StreamMediaDedup.typedDedupBatch: typed catalog mirror — kind gates, digest gate, replay idempotent") {
    import graft.operators.Multimodal
    val store = java.nio.file.Files.createTempDirectory("graft-typed-fp").toString + "/fps"
    def media(rows: (Long, Array[Byte])*) =
      rows.map { case (id, c) => Multimodal.MediaRow(id, "blob", c) }.toDS()
    var got = Map.empty[Long, Map[Long, (String, Long)]]
    def acc(df: org.apache.spark.sql.DataFrame, ep: Long): Unit =
      got += ep -> df
        .select(col("doc_id"), col("kind"), col("n_samples"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
        .toMap
    val samples = Array.tabulate(400)(i => (Multimodal.syntheticSample(4L, i) >> 2).toShort)
    val mp3 = Multimodal.syntheticMp3(11L, 6, 44100)
    // epoch 0: one of each kind + a within-batch image twin — survivors
    // carry the FULL typed catalog columns (the x187 row shape)
    val n0 = graft.streaming.StreamMediaDedup.typedDedupBatch(
      media(
        10L -> Multimodal.syntheticImage(1L, 24, 20, "png"),
        11L -> Multimodal.syntheticImage(1L, 24, 20, "bmp"), // twin: drops within-batch
        20L -> Multimodal.wavFromSamples(samples, 16000),
        30L -> Multimodal.syntheticGif(2L, 24, 20, 4),
        40L -> mp3 // fingerprint-less: typed audio, digest-gated
      ),
      store, 0L, acc)
    assert(n0 == 4, s"epoch 0 survivors: $got")
    assert(got(0L).keySet == Set(10L, 20L, 30L, 40L), s"epoch 0: $got")
    assert(got(0L)(20L) == (("audio", 400L)), s"typed columns must ride accept: $got")
    assert(got(0L)(40L) == (("audio", 6 * 1152L)), s"MP3 typed via structure: $got")
    assert(got(0L)(30L)._1 == "video", s"epoch 0: $got")
    // epoch 1: re-ingests — image re-encoded (bmp), video re-containered
    // (y4m), audio re-gained, the SAME mp3 bytes (digest hit), plus one
    // fresh image: only the fresh image survives
    val n1 = graft.streaming.StreamMediaDedup.typedDedupBatch(
      media(
        50L -> Multimodal.syntheticImage(1L, 24, 20, "bmp"),
        51L -> Multimodal.wavFromSamples(samples.map(x => (x * 2).toShort), 16000),
        52L -> Multimodal.syntheticY4m(2L, 24, 20, 4),
        53L -> mp3.clone(),
        60L -> Multimodal.syntheticImage(77L, 24, 20, "png")
      ),
      store, 1L, acc)
    assert(n1 == 1 && got(1L).keySet == Set(60L), s"epoch 1: $got")
    // replayed epoch 1: store excludes its own first attempt → same result
    val n1b = graft.streaming.StreamMediaDedup.typedDedupBatch(
      media(
        50L -> Multimodal.syntheticImage(1L, 24, 20, "bmp"),
        51L -> Multimodal.wavFromSamples(samples.map(x => (x * 2).toShort), 16000),
        52L -> Multimodal.syntheticY4m(2L, 24, 20, 4),
        53L -> mp3.clone(),
        60L -> Multimodal.syntheticImage(77L, 24, 20, "png")
      ),
      store, 1L, acc)
    assert(n1b == 1 && got(1L).keySet == Set(60L), s"epoch 1 replay: $got")
    // a NEAR-identical mp3 (different payload bytes, same structure) is
    // NOT digest-dropped — fingerprint-less rows dedupe on byte identity only
    val n2 = graft.streaming.StreamMediaDedup.typedDedupBatch(
      media(70L -> Multimodal.syntheticMp3(12L, 6, 44100)), store, 2L, acc)
    assert(n2 == 1 && got(2L).keySet == Set(70L), s"epoch 2: $got")
  }
}
