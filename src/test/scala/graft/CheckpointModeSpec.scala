package graft

import org.apache.spark.sql.functions._

import graft.operators.{ChatOps, ConnectedComponents, GraphOps}
import graft.runtime.GraftCheckpoint

/** The reliable-checkpoint mode contract ([[GraftCheckpoint]]): results
  * identical to the default localCheckpoint mode for every iterative
  * operator, AND the pinned round state survives total cache loss — the
  * local-mode failure that models an executor loss mid-iteration on a
  * real cluster.
  */
class CheckpointModeSpec extends SparkTestBase {
  import spark.implicits._

  private def withReliable[A](f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(GraftCheckpoint.ConfKey, dir)
    try f(dir)
    finally {
      spark.conf.unset(GraftCheckpoint.ConfKey)
      ()
    }
  }

  private def dropAllCachedBlocks(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  test("reliable mode: CC / PageRank / Bradley-Terry results are identical in both modes") {
    val pairs = Seq.tabulate(199)(i => (i.toLong, i + 1L)).toDF("id_a", "id_b")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val comps = Seq((10L, 20L), (10L, 30L), (20L, 30L), (40L, 10L)).toDF("winner", "loser")

    val ccLocal = ConnectedComponents.run(pairs).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val prLocal = GraphOps.pageRank(edges, iters = 8).collect()
      .map(r => r.getLong(0) -> math.rint(r.getDouble(1) * 1e9) / 1e9).toMap
    val btLocal = ChatOps.bradleyTerry(comps, iters = 5).collect()
      .map(r => r.getLong(0) -> math.rint(r.getDouble(1) * 1e6) / 1e6).toMap

    withReliable { dir =>
      val (ccR, rounds) = ConnectedComponents.runWithRounds(pairs)
      assert(ccR.collect().map(r => (r.getLong(0), r.getLong(1))).toMap == ccLocal)
      assert(rounds >= 1)
      val prR = GraphOps.pageRank(edges, iters = 8).collect()
        .map(r => r.getLong(0) -> math.rint(r.getDouble(1) * 1e9) / 1e9).toMap
      assert(prR == prLocal)
      val btR = ChatOps.bradleyTerry(comps, iters = 5).collect()
        .map(r => r.getLong(0) -> math.rint(r.getDouble(1) * 1e6) / 1e6).toMap
      assert(btR == btLocal)
      // pins actually landed in the configured directory
      val files = new java.io.File(dir).listFiles()
      assert(files != null && files.nonEmpty, s"no checkpoint data under $dir")
    }
  }

  test("reliable mode: StreamDedup epochs keep the same survivors in both modes") {
    def epochs(): Seq[Set[Long]] = {
      val store = java.nio.file.Files.createTempDirectory("graft-ckpt-dedup").toString + "/digests"
      Seq(
        Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha")),
        Seq((10L, "alpha"), (11L, "gamma"), (12L, "gamma"))
      ).zipWithIndex.map { case (docs, epoch) =>
        var kept = Set.empty[Long]
        val n = graft.streaming.StreamDedup.dedupBatch(
          docs.toDF("doc_id", "text"), col("text"), col("doc_id"), store, epoch.toLong,
          (df, _) => kept = df.collect().map(_.getLong(0)).toSet)
        assert(n == kept.size.toLong)
        kept
      }
    }
    val local = epochs()
    assert(local == Seq(Set(1L, 2L), Set(11L)))
    withReliable(_ => assert(epochs() == local))
  }

  test("reliable mode survives total cache loss mid-lineage; local mode cannot by design") {
    val pairs = Seq.tabulate(99)(i => (i.toLong, i + 1L)).toDF("id_a", "id_b")

    // local mode: the final result plans over localCheckpoint blocks —
    // dropping every cached block (= losing the executors that held them)
    // makes the result unrecoverable: lineage was truncated at the blocks
    val localRes = ConnectedComponents.run(pairs)
    dropAllCachedBlocks()
    val e = intercept[Exception] { localRes.collect() }
    val msg = Option(e.getMessage).getOrElse("") + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(
      msg.toLowerCase.contains("checkpoint") || msg.toLowerCase.contains("block"),
      s"expected a lost-checkpoint-block failure, got: $e"
    )

    // reliable mode: same loss, but round state re-reads from the
    // checkpoint directory — the collect succeeds and is correct
    withReliable { _ =>
      val relRes = ConnectedComponents.run(pairs)
      dropAllCachedBlocks()
      val got = relRes.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got.size == 100 && got.values.forall(_ == 0L), s"wrong components after block loss")
    }
  }

  test("pin turns constraint propagation off for its own thread only") {
    val key = "spark.sql.constraintPropagation.enabled"
    val sawOff = new java.util.concurrent.atomic.AtomicInteger(0)
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var pinning = true
    // a concurrent reader: the session conf and its own thread's SQL conf
    val reader = new Thread(() => {
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      while (pinning) {
        if (spark.conf.get(key) != "true" || !org.apache.spark.sql.internal.SQLConf.get.constraintPropagationEnabled)
          sawOff.incrementAndGet()
        reads.incrementAndGet()
      }
    })
    reader.start()
    try {
      // round-N union plans over pinned frames: the shape that crashes when
      // a pin freezes constraints (see GraftCheckpoint.pin)
      var df = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
      (1 to 8).foreach { _ =>
        df = GraftCheckpoint.pin(
          df.union(df.select(col("dst").as("src"), (col("dst") + 1L).as("dst"))).distinct())
      }
      assert(df.count() == 10L)
    } finally {
      pinning = false
      reader.join()
    }
    assert(reads.get() > 0)
    assert(sawOff.get() == 0, s"a concurrent reader saw propagation off ${sawOff.get()} times")
    assert(spark.conf.get(key) == "true")
  }
}
