package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.operators.ChatOps

/** Streaming SFT / post-training mirror: the batch recipe
  * [[ChatOps.parseTranscript]] → [[ChatOps.lossMass]] →
  * [[ChatOps.preferencePairs]] as a `foreachBatch` combinator with
  * cross-batch PROMPT dedup — continuous candidate ingestion where each
  * prompt emits at most ONE preference pair across the stream's lifetime.
  *
  * Per micro-batch, in order (all zero-shuffle projections until step 3):
  *
  *   1. [[ChatOps.parseTranscript]] — raw transcript text → typed turns
  *      (orphan lines counted, never silently dropped);
  *   2. [[ChatOps.lossMass]] — SFT mask accounting; candidates with ZERO
  *      supervised tokens are dropped here (they cannot train) and
  *      surfaced via the returned drop count — the load-shed discipline;
  *   3. [[ChatOps.preferencePairs]] — in-batch chosen/rejected per prompt
  *      group (ONE partial-aggregating exchange). The prompt identity is
  *      the md5 fingerprint of the NON-loss-role turns (the shared
  *      context), so candidates differing only in their assistant
  *      responses group together — the chatStats fingerprint discipline
  *      restricted to the prompt prefix;
  *   4. [[StreamDedup.dedupBatch]] over the PAIRS keyed by prompt
  *      fingerprint — a prompt whose pair shipped in an earlier epoch
  *      never ships again; the digest store is epoch-partitioned with
  *      self-exclusion, so a replayed epoch re-derives the same pairs.
  *
  * Delivery semantics are [[StreamDedup]]'s: exactly-once on the prompt
  * digest store, at-least-once on `acceptPairs`. Steps 1–3 are
  * deterministic projections + one deterministic aggregation, so an epoch
  * replay reconstructs bit-identical pairs.
  *
  * 100 TB shape: parsing and mask accounting ride the micro-batch scan
  * in-row; pair construction moves ~2 rows per prompt; the digest store
  * is scanned once per epoch, never shuffled.
  */
object StreamSft {

  /** Prompt identity: fingerprint of the non-`lossRole` turns. */
  private def promptFp(turns: Column, lossRole: String): Column =
    md5(
      array_join(
        transform(
          filter(turns, t => t.getField("role") =!= lit(lossRole)),
          t => concat(t.getField("role"), lit("\u0001"), t.getField("content"))
        ),
        "\u0002"
      )
    )

  /** One SFT micro-batch, callable directly (and from tests). `batch`
    * carries raw transcripts; returns (pairs accepted, candidates dropped
    * for zero supervised tokens).
    */
  def sftBatch(
      batch: DataFrame,
      textCol: String,
      idCol: Column,
      scoreCol: Column,
      promptStore: String,
      epoch: Long,
      acceptPairs: (DataFrame, Long) => Unit,
      lossRole: String = "assistant",
      roles: Seq[String] = ChatOps.DefaultRoles
  ): (Long, Long) = {
    val parsed = ChatOps.parseTranscript(
      batch.select(idCol.as("cand_id"), col(textCol).as("__text"), scoreCol.as("__score")),
      col("cand_id"),
      col("__text"),
      roles,
      keep = Seq(col("__score"))
    )
    Bridge.cacheRows(ChatOps.lossMass(parsed, lossRole)) { massed =>
      val supervised = massed.filter(col("loss_tokens") > 0)
      val nDropped = massed.count() - supervised.count()
      val cands = supervised.select(
        col("cand_id"),
        promptFp(col("turns"), lossRole).as("prompt_fp"),
        col("__score")
      )
      val pairs =
        ChatOps.preferencePairs(cands, col("prompt_fp"), col("cand_id"), col("__score"))
      // cross-batch prompt dedup: the pair row's identity IS its prompt
      // fingerprint — reuse the digest-store machinery wholesale
      val nPairs = StreamDedup.dedupBatch(
        pairs,
        col("prompt_id"),
        col("prompt_id"),
        promptStore,
        epoch,
        acceptPairs
      )
      (nPairs, nDropped)
    }
  }

  /** The full recipe as an epoch-aware sink — attach via
    * `df.writeStream.foreachBatch(...)` or
    * [[StreamRuntime.fanOutSinkWithEpoch]].
    */
  def sftSink(
      textCol: String,
      idCol: Column,
      scoreCol: Column,
      promptStore: String,
      acceptPairs: (DataFrame, Long) => Unit,
      lossRole: String = "assistant",
      roles: Seq[String] = ChatOps.DefaultRoles
  ): (DataFrame, Long) => Unit =
    (batch, epoch) => {
      sftBatch(batch, textCol, idCol, scoreCol, promptStore, epoch, acceptPairs, lossRole, roles)
      ()
    }
}
