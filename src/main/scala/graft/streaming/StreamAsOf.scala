package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.operators.AsOfJoin

/** Streaming mirror of the as-of join — the continuous ENRICH pattern a
  * feature store runs: a stream of events joins each micro-batch, as-of,
  * against the full history of observations accumulated so far (latest
  * signup at or before each purchase, latest price at or before each
  * trade, latest model version at or before each request).
  *
  * The observation history lives as an OBSERVATION [[EpochStore]] (full
  * observation schema: byCol, timeCol, value columns). Per micro-batch:
  *
  *   1. split the batch into its observation rows and its event rows
  *      (caller-provided frames — often two streams, or one stream
  *      filtered two ways, exactly like q19's purchase/signup split);
  *   2. OVERWRITE the epoch's directory with this epoch's observations;
  *   3. as-of join the events against store-before-this-epoch ∪ this
  *      batch's own observations (same-batch visibility — an event sees
  *      an observation that arrived in its own micro-batch, matching the
  *      batch operator's semantics) through the NATIVE merge
  *      ([[graft.operators.AsOfJoin.asofBackwardNative]]) or the
  *      monster-key chunked path;
  *   4. hand the enriched rows to `accept`.
  *
  * Replays follow the [[EpochStore]] contract: exactly-once on the store,
  * at-least-once on `accept`. The store is read with the observations'
  * schema.
  *
  * 100 TB shape: the store holds OBSERVATIONS only (the dimension
  * history, not the event stream); it is scanned once per micro-batch
  * and shuffled only on the as-of key — the same exchange bill the batch
  * operator pays — and late/out-of-order observations are handled by
  * construction (the as-of sort is by event time, not arrival epoch).
  * One monster key is the [[AsOfJoin.asofBackwardChunked]] regime; pass
  * `chunked = true` when the key distribution warrants it.
  *
  * Reference parity: the C++ service has no temporal-join stage — this
  * is LLM-pipeline/feature-store surface (SURVEY §2.5) married to the
  * epoch-store discipline of the other streaming mirrors.
  */
object StreamAsOf {

  /** One micro-batch of the recipe above, callable directly (and from
    * tests). Returns the number of enriched event rows handed to
    * `accept`.
    */
  def enrichBatch(
      events: DataFrame,
      observations: DataFrame,
      byCol: String,
      timeCol: String,
      obsStore: String,
      epoch: Long,
      accept: (DataFrame, Long) => Unit,
      chunked: Boolean = false
  ): Long = {
    val spark = events.sparkSession
    val obsCols = observations.columns.toSeq
    require(
      obsCols.contains(byCol) && obsCols.contains(timeCol),
      s"observations must carry '$byCol' and '$timeCol'"
    )
    // store first, then the join (the EpochStore contract)
    EpochStore.write(observations, obsStore, epoch)
    val prior = EpochStore.prior(spark, obsStore, observations.schema, epoch)
    val allObs = prior.unionByName(observations)
    val enriched =
      if (chunked) AsOfJoin.asofBackwardChunked(events, allObs, byCol, timeCol)
      else AsOfJoin.asofBackwardNative(events, allObs, byCol, timeCol)
    Bridge.cacheRows(enriched) { out =>
      val n = out.count()
      accept(out, epoch)
      n
    }
  }
}
