package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.Dedup

/** Streaming twin of [[graft.operators.Dedup.incremental]]: a
  * `foreachBatch` combinator that dedupes every micro-batch against the
  * digests of everything previously accepted, then hands the survivors to
  * the wrapped sink — continuous corpus ingestion where a re-ingested
  * document is dropped forever after its first acceptance.
  *
  * The accepted corpus lives as a DIGEST STORE: a parquet directory of
  * `fp` digests ([[graft.operators.TextOps.fingerprintMd5]], 32-char md5
  * hex strings) partitioned by epoch (`<store>/epoch=<n>/part-*.parquet`).
  * Per micro-batch:
  *
  *   1. read the store's epochs BEFORE the current one (partition pruning
  *      on the `epoch` directory column, with the declared
  *      [[StoreSchema]] — no footer read; a missing or empty store reads
  *      as empty — see idempotency below);
  *   2. [[graft.operators.Dedup.incrementalProbeOnDigests]] against it —
  *      the store is scanned ONCE (a semi-join against the broadcast batch
  *      digests) and NEVER shuffled, and within-batch copies collapse to
  *      their smallest id;
  *   3. overwrite `<store>/epoch=<n>` with the survivors' digests, counting
  *      them on the write's own job;
  *   4. pass the surviving ROWS (original batch schema) to `accept`.
  *
  * Exactly-once on the STORE, at-least-once on `accept`: Spark replays a
  * failed micro-batch under the SAME epoch id (the documented
  * `foreachBatch` contract), and because step 1 reads only earlier
  * epochs and step 3 overwrites rather than appends, a replay recomputes
  * the same survivor set instead of deduping the batch against its own
  * first attempt — the store can never poison a retry. A restart from an
  * older checkpoint replays epochs the store already holds LATER
  * partitions for; those abandoned epochs are never read, and each is
  * overwritten when its epoch id comes round again. `accept` follows the
  * usual `foreachBatch` delivery semantics (make it idempotent on
  * `epoch` for end-to-end exactly-once).
  *
  * 100 TB shape: the store holds digests only (32 bytes per accepted doc
  * ever) and is scanned once per epoch, never shuffled. What moves is
  * sized by the BATCH, not by the store: the batch digests broadcast to
  * the scan, and the store digests they hit broadcast back. A batch with
  * more distinct digests than
  * [[graft.operators.Dedup.incrementalProbeOnDigests]]'s broadcast guard
  * allows degrades to the plain anti-join rather than an unbounded driver
  * broadcast. No per-epoch sketch is built, so nothing has to be sized
  * for the store's growth.
  *
  * Reference parity: the C++ service has no cross-batch dedup stage —
  * this is part of the LLM-pipeline surface (SURVEY §2.5.1) married to
  * the O-7 fan-out runtime: wrap any sink from
  * [[graft.runtime.GraftService]]'s factory and attach via
  * [[StreamRuntime.fanOutSinkWithEpoch]].
  */
object StreamDedup {

  /** The digest store's schema: the `fp` column the epochs are written
    * with plus the `epoch` directory column.
    */
  val StoreSchema: StructType = StructType(
    Seq(StructField("fp", StringType), StructField("epoch", LongType))
  )

  /** One micro-batch of the recipe above, callable directly (and from
    * tests) — [[dedupSink]] is this per epoch. Returns the number of
    * surviving rows handed to `accept`. `expectedRefItems` and `fpp` are
    * ignored: they sized a Bloom sketch the store probe no longer builds,
    * and stay only so that existing callers that name them still compile.
    */
  def dedupBatch(
      batch: DataFrame,
      text: Column,
      idCol: Column,
      digestStore: String,
      epoch: Long,
      accept: (DataFrame, Long) => Unit,
      expectedRefItems: Long = 4000000L,
      fpp: Double = 0.03
  ): Long = {
    val spark = batch.sparkSession
    // the store before this epoch: partition-discovery read, pruned to
    // epoch < current so a replay never sees its own first attempt nor an
    // abandoned later epoch
    val storePath = new org.apache.hadoop.fs.Path(digestStore)
    val stored =
      if (storePath.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(storePath))
        spark.read.schema(StoreSchema).option("basePath", digestStore).parquet(digestStore)
      else spark.createDataFrame(java.util.Collections.emptyList[Row](), StoreSchema)
    val refFp = stored.filter(col("epoch") < epoch).select(col("fp"))
    val survivors = Dedup.incrementalProbeOnDigests(batch, text, idCol, refFp).persist()
    try {
      // store first (idempotent overwrite), then delivery: a crash between
      // the two replays the epoch, re-derives the same survivors (the
      // epoch's own partition is excluded above) and re-accepts
      val written = Observation()
      survivors
        .select(col("fp"))
        .observe(written, count(lit(1)).as("rows"))
        .write
        .mode("overwrite")
        .parquet(s"$digestStore/epoch=$epoch")
      val kept = batch.join(
        survivors.select(col("keep_id")),
        idCol === col("keep_id"),
        "left_semi"
      )
      val n = written.get("rows").asInstanceOf[Long]
      accept(kept, epoch)
      n
    } finally {
      survivors.unpersist()
      ()
    }
  }

  /** Wrap an epoch-aware sink with cross-batch exact dedup — attach via
    * `df.writeStream.foreachBatch(...)` or
    * [[StreamRuntime.fanOutSinkWithEpoch]].
    */
  def dedupSink(
      text: Column,
      idCol: Column,
      digestStore: String,
      accept: (DataFrame, Long) => Unit
  ): (DataFrame, Long) => Unit =
    (batch, epoch) => {
      dedupBatch(batch, text, idCol, digestStore, epoch, accept)
      ()
    }
}
