package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.TextOps

/** Streaming corpus curation: the batch cleaning recipe (quality gate →
  * PII scrub → cross-batch dedup) as a `foreachBatch` combinator —
  * continuous ingestion where every accepted document is quality-gated,
  * redacted, and accepted at most once across the stream's lifetime.
  *
  * Per micro-batch, in order:
  *
  *   1. [[TextOps.gopherQualityGate]] — rows failing the Gopher rules are
  *      dropped (a pure projection + semi-join back to the batch's full
  *      schema);
  *   2. [[TextOps.piiScrub]] — the text column is REWRITTEN to its
  *      redacted form (one native pass), so nothing downstream (the
  *      digest store included) ever sees raw PII;
  *   3. [[StreamDedup.dedupBatch]] — cross-batch exact dedup of the
  *      SCRUBBED text against the accepted-corpus digest store; the
  *      digest therefore keys the redacted text, which keeps re-ingested
  *      documents that differ only in their PII payload collapsing onto
  *      one digest.
  *
  * Delivery semantics are [[StreamDedup]]'s: exactly-once on the digest
  * store (epoch-partition overwrite + self-exclusion), at-least-once on
  * `accept`. The quality gate and scrub are deterministic projections, so
  * an epoch replay re-derives the same survivors.
  *
  * 100 TB shape: steps 1–2 are zero-shuffle per-row work riding the
  * micro-batch scan; step 3 scans (never shuffles) the digest store.
  */
object StreamCurate {

  /** One curated micro-batch, callable directly (and from tests).
    * `textCol` is the NAME of the text column (it is rewritten in
    * place); returns the number of accepted rows.
    */
  def curateBatch(
      batch: DataFrame,
      textCol: String,
      idCol: Column,
      digestStore: String,
      epoch: Long,
      accept: (DataFrame, Long) => Unit,
      minWords: Int = 50,
      minStopHits: Int = 2
  ): Long = {
    val text = col(textCol)
    val keptIds = TextOps
      .gopherQualityGate(batch, idCol, text, minWords = minWords, minStopHits = minStopHits)
      .filter(col("kept"))
      .select(col("doc_id").as("__kept_id")) // fresh name: the batch may well carry doc_id
    val quality = batch.join(keptIds, idCol === col("__kept_id"), "left_semi")
    val scrubbed = quality.withColumn(textCol, TextOps.piiScrub(text).getField("redacted"))
    StreamDedup.dedupBatch(scrubbed, col(textCol), idCol, digestStore, epoch, accept)
  }

  /** The full recipe as an epoch-aware sink — attach via
    * `df.writeStream.foreachBatch(...)` or
    * [[StreamRuntime.fanOutSinkWithEpoch]].
    */
  def curateSink(
      textCol: String,
      idCol: Column,
      digestStore: String,
      accept: (DataFrame, Long) => Unit,
      minWords: Int = 50,
      minStopHits: Int = 2
  ): (DataFrame, Long) => Unit =
    (batch, epoch) => {
      curateBatch(batch, textCol, idCol, digestStore, epoch, accept, minWords, minStopHits)
      ()
    }
}
