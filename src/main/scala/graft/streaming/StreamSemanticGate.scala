package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.operators.Similarity

/** Streaming SEMANTIC ingest gate: [[graft.operators.Similarity.incrementalSemantic]]
  * as a `foreachBatch` recipe — continuous embedding ingestion where a
  * vector is accepted at most once per semantic neighborhood across the
  * stream's lifetime (near-duplicate re-ingests, re-encodes, and
  * re-crawls collapse onto the first accepted copy). The embedding-space
  * sibling of [[StreamDedup]] (exact digests) and the natural partner of
  * [[StreamCurate]] for multimodal pipelines.
  *
  * Accepted (vec_id, v) rows live in an [[EpochStore]]; each batch reads
  * the epochs before its own, writes its survivors, THEN delivers —
  * exactly-once on the store, at-least-once on `accept`.
  *
  * 100 TB shape: per batch the accepted store is scanned (key pass +
  * confirm pass), never shuffled; the batch side broadcasts — exactly
  * [[Similarity.incrementalSemantic]]'s contract, so the per-batch cost
  * is two linear passes over the store regardless of batch size.
  *
  * Scope note: the gate is batch-vs-store only — two near-duplicates
  * arriving in the SAME micro-batch both pass (and both enter the
  * store). If within-batch collapse matters at your batch sizes, run
  * [[Similarity.semanticDedup]] over the batch before the gate.
  */
object StreamSemanticGate {

  /** One gated micro-batch, callable directly (and from tests). Returns
    * the number of accepted vectors.
    */
  def gateBatch(
      batch: DataFrame,
      idCol: Column,
      vecCol: Column,
      vectorStore: String,
      epoch: Long,
      accept: (DataFrame, Long) => Unit,
      threshold: Double = 0.95
  ): Long = {
    val spark = batch.sparkSession
    val b = batch.select(idCol.as("vec_id"), transform(vecCol, _.cast("double")).as("v"))
    val ref = EpochStore.prior(spark, vectorStore, b.schema, epoch)
    val verdicts = Similarity.incrementalSemantic(b, col("vec_id"), col("v"), ref, col("vec_id"), col("v"), threshold)
    Bridge.cacheRows(verdicts) { verdicts =>
      val kept = b.join(
        verdicts.filter(col("kept")).select(col("id").as("__keep")),
        col("vec_id") === col("__keep"),
        "left_semi"
      )
      // store first, then delivery (the EpochStore contract)
      EpochStore.write(kept, vectorStore, epoch)
      val n = verdicts.filter(col("kept")).count()
      accept(kept, epoch)
      n
    }
  }
}
