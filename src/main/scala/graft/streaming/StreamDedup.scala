package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.functions.sketch
import graft.operators.{Dedup, TextOps}

/** Streaming twin of [[graft.operators.Dedup.incremental]]: a
  * `foreachBatch` combinator that dedupes every micro-batch against the
  * digests of everything previously accepted, then hands the survivors to
  * the wrapped sink — continuous corpus ingestion where a re-ingested
  * document is dropped forever after its first acceptance.
  *
  * The accepted corpus lives as a DIGEST STORE: an [[EpochStore]] of
  * `fp` digests ([[graft.operators.TextOps.fingerprintMd5]], 32-char md5
  * hex strings). Per micro-batch:
  *
  *   1. read the store's epochs BEFORE the current one
  *      ([[EpochStore.prior]] with the declared [[StoreSchema]]);
  *   2. cache the batch rows with their digest and id as binary rows
  *      ([[org.apache.spark.sql.graftbridge.Bridge.cacheRows]]: no
  *      column-batch encoding, no `CacheManager` entry), and decide the
  *      survivors with [[graft.operators.Dedup.incrementalOnDriver]]: one
  *      collect of (digest, id) as packed `UnsafeRow` bytes — which fills
  *      that cache — then the store scanned ONCE, filtered by a broadcast
  *      set of the batch digests, and NEVER shuffled; the driver keeps the
  *      smallest id per new digest on Catalyst-internal values, so
  *      within-batch copies collapse without a shuffle or a conversion;
  *   3. write the survivors' digests from the driver as the epoch
  *      ([[EpochStore.writeRows]]: one parquet file through Spark's
  *      parquet writer, renamed onto the epoch's directory; no Spark job,
  *      and no dictionary for `fp`);
  *   4. pass the surviving ROWS (original batch schema) to `accept`: the
  *      cached rows filtered by a broadcast set of the survivor ids, so the
  *      batch is not read again and no join runs.
  *
  * A warm epoch costs 2 jobs before `accept`'s own.
  *
  * Replays follow the [[EpochStore]] contract: exactly-once on the store,
  * at-least-once on `accept`.
  *
  * 100 TB shape: the store holds digests only (32 bytes per accepted doc
  * ever) and is scanned once per epoch, never shuffled. What moves is
  * sized by the BATCH, not by the store: the batch digests broadcast to
  * the scan, and the store digests they hit come back to the driver. The
  * driver decides within [[graft.operators.Dedup.incrementalOnDriver]]'s
  * guard of 2 M (digest, id) pairs. By the row and object layouts, for
  * md5 digests and long ids at the bound: the pairs arrive as 60 bytes
  * each of packed rows (120 MB), the smallest-id map adds about 90 bytes
  * per distinct digest (180 MB), and the batch digests broadcast as
  * packed rows (52 bytes each, 104 MB) come on top. When every digest is
  * new, the survivors (56 MB), the parquet writer's buffered `fp` column
  * (36 bytes each, 72 MB) and the survivor ids broadcast as packed rows
  * (20 bytes each, 40 MB) add the rest: about 0.6 GB at the bound, plus
  * the hash sets a probing JVM builds from the two broadcasts where the
  * executors share the driver's JVM. A batch with more rows than the guard is
  * aggregated per digest on the executors first; one with more distinct
  * digests than the guard degrades to the plain anti-join (which
  * shuffles the store) rather than an unbounded driver footprint. No
  * per-epoch sketch is built, so nothing has to be sized for the store's
  * growth.
  *
  * Reference parity: the C++ service has no cross-batch dedup stage —
  * this is part of the LLM-pipeline surface (SURVEY §2.5.1) married to
  * the O-7 fan-out runtime: wrap any sink from
  * [[graft.runtime.GraftService]]'s factory and attach via
  * [[StreamRuntime.fanOutSinkWithEpoch]].
  */
object StreamDedup {

  /** The digest store's schema: the `fp` column the epochs are written
    * with.
    */
  val StoreSchema: StructType = StructType(Seq(StructField("fp", StringType)))

  /** The digest and id columns [[dedupBatch]] adds to the cached batch rows. */
  private val FpCol = "__graft_fp"
  private val IdCol = "__graft_id"

  /** Digests are unique by construction, so a dictionary never pays. */
  private val NoFpDictionary = Map("parquet.enable.dictionary#fp" -> "false")

  /** The driver guard [[dedupBatch]] decides within: at most this many
    * distinct digests per batch (see [[graft.operators.Dedup.incrementalOnDriver]]).
    */
  private val DriverGuard = 2000000L

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
  ): Long = dedupBatch(batch, text, idCol, digestStore, epoch, accept, guard = DriverGuard)

  /** [[dedupBatch]] deciding on the driver within `guard` distinct digests
    * instead of the 2 M default, so that specs reach the paths past it.
    */
  private[graft] def dedupBatch(
      batch: DataFrame,
      text: Column,
      idCol: Column,
      digestStore: String,
      epoch: Long,
      accept: (DataFrame, Long) => Unit,
      guard: Long
  ): Long = {
    val spark = batch.sparkSession
    val refFp = EpochStore.prior(spark, digestStore, StoreSchema, epoch)
    // the batch rows with their digest and id, cached as binary rows: the
    // decision's first job fills the cache and the delivered rows are read
    // back from it
    Bridge.cacheRows(batch.select(col("*"), TextOps.fingerprintMd5(text).as(FpCol), idCol.as(IdCol))) { rows =>
      // store first, then delivery (the EpochStore contract)
      Dedup.incrementalOnDriver(rows, col(FpCol), col(IdCol), refFp, guard) match {
        case Some(survivors) =>
          val row = new GenericInternalRow(1)
          val digests = survivors.iterator.map { case (d, _) => row.update(0, d); row }
          EpochStore.writeRows(spark, digests, StoreSchema, digestStore, epoch, NoFpDictionary)
          val ids = sketch.broadcastSet(spark, rows.schema(IdCol).dataType, survivors.map(_._2))
          try accept(rows.filter(sketch.in_broadcast_set(ids, col(IdCol))).drop(FpCol, IdCol), epoch)
          finally ids.destroy()
          survivors.size.toLong
        case None =>
          // past the driver guard: the plain anti-join, which shuffles the
          // store
          Bridge.cacheRows(Dedup.incrementalOnDigests(rows, text, col(IdCol), refFp)) { survivors =>
            val written = Observation()
            EpochStore.write(survivors.select(col("fp")).observe(written, count(lit(1)).as("rows")), digestStore, epoch)
            val kept = rows.join(survivors.select(col("keep_id")), col(IdCol) === col("keep_id"), "left_semi")
            accept(kept.drop(FpCol, IdCol), epoch)
            written.get("rows").asInstanceOf[Long]
          }
      }
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
