package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.operators.{ConnectedComponents, EditDistance}

/** Streaming twin of the x156 entity-resolution composite
  * ([[graft.operators.EditDistance.jaroWinklerPairs]] ∘
  * [[graft.operators.ConnectedComponents.assignClusters]]): continuous
  * record linkage where each micro-batch's records are resolved against
  * every entity accepted so far — the master-data / catalog-ingest
  * pattern (new supplier rows attach to existing entities or found new
  * ones).
  *
  * The entity registry lives as a KEY [[EpochStore]] of
  * `(id, block, s, entity)` rows. Per micro-batch:
  *
  *   1. read the store's epochs before the current one;
  *   2. JW-match batch keys against stored keys within blocks
  *      (threshold `threshold`) AND batch keys against each other;
  *   3. run alternating-star CC over the BATCH-internal pairs, then per
  *      batch component: entity = the MINIMUM stored entity any member
  *      matched, else the component's minimum record id (a new entity).
  *      A component matching ≥ 2 distinct stored entities is an
  *      ENTITY-MERGE observation — counted and flagged on every row
  *      (`n_matched_entities`), never silently collapsed: true merge
  *      (rewriting historical assignments) is a batch job over the
  *      store, not a streaming side effect.
  *   4. overwrite the epoch partition with the batch's
  *      `(id, block, s, entity)` rows; hand assignments to `accept`.
  *
  * Replays follow the [[EpochStore]] contract: exactly-once on the store,
  * at-least-once on `accept`.
  *
  * 100 TB shape: the store is scanned per batch but only the BLOCKS the
  * batch touches survive the join (block-key equi-join, AQE-absorbable);
  * batch-internal CC runs on batch-sized pair sets; nothing corpus-sized
  * is ever shuffled. Linkage keys are short strings by the
  * [[EditDistance.jaroWinklerPairs]] contract.
  */
object StreamLinkage {

  /** One micro-batch of the recipe above, callable directly (and from
    * tests). Returns the number of assignment rows handed to `accept`.
    * `accept` receives `(id, block, s, entity, matched_store,
    * n_matched_entities)`.
    */
  def linkBatch(
      batch: DataFrame,
      idCol: Column,
      strCol: Column,
      blockCol: Column,
      threshold: Double,
      keyStore: String,
      epoch: Long,
      accept: (DataFrame, Long) => Unit
  ): Long = {
    val spark = batch.sparkSession
    // four readers share the batch: the store join, the JW self-join, CC
    // and the assignment join
    Bridge.cacheRows(
      batch
        .filter(idCol.isNotNull && strCol.isNotNull && blockCol.isNotNull)
        .select(idCol.as("id"), blockCol.as("block"), strCol.as("s"))
    ) { b =>
      // the stored rows' schema follows the batch's id type (entity = an id)
      val keySchema = b.select(col("id"), col("block"), col("s"), col("id").as("entity")).schema
      val ref = EpochStore.prior(spark, keyStore, keySchema, epoch)

      // batch ↔ store matches (within block, thresholded JW): raw
      // (id, entity) rows — distinctness is judged at COMPONENT level below
      val toStore = b
        .join(
          ref.select(col("block"), col("s").as("__rs"), col("entity")),
          Seq("block")
        )
        .where(
          round(graft.functions.text.jaro_winkler(col("s"), col("__rs")), 6) >= threshold
        )
        .select(col("id"), col("entity"))

      // batch-internal components (JW pairs → alternating-star CC)
      val internalPairs = EditDistance
        .jaroWinklerPairs(b, col("id"), col("s"), col("block"), threshold)
        .select(col("id_a"), col("id_b"))
      val comps = ConnectedComponents
        .assignClusters(b.select(col("id")), col("id"), internalPairs)
        .select(col("doc_id").as("id"), col("component"))

      // per component: min stored entity across members, else component id;
      // n_matched_entities counts DISTINCT stored entities the component
      // touched (≥ 2 = an entity-merge observation)
      val compEnt = comps
        .join(toStore, Seq("id"), "left")
        .groupBy(col("component"))
        .agg(
          min(col("entity")).as("__cent"),
          count_distinct(col("entity")).as("__centN")
        )
      val assigned = comps
        .join(compEnt, Seq("component"))
        .join(b, Seq("id"))
        .select(
          col("id"),
          col("block"),
          col("s"),
          coalesce(col("__cent"), col("component")).as("entity"),
          col("__cent").isNotNull.as("matched_store"),
          col("__centN").as("n_matched_entities")
        )
      Bridge.cacheRows(assigned) { assigned =>
        EpochStore.write(assigned.select(col("id"), col("block"), col("s"), col("entity")), keyStore, epoch)
        val n = assigned.count()
        accept(assigned, epoch)
        n
      }
    }
  }
}
