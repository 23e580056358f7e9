package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.operators.{CorpusOps, Robots}

/** Streaming web ingestion — the crawl-side capstone recipe, the
  * streaming mirror of the batch x112 composite: raw CSV lines flow in
  * per micro-batch, and each batch is
  *
  *   1. parsed by [[CorpusOps.csvIngest]] — corrupt lines are COUNTED
  *      and dropped, never poisoning the batch (the jsonl/warc
  *      discipline);
  *   2. gated by [[Robots.fetchGate]] against a model-side robots table
  *      (broadcast rules; disallowed URLs are counted and dropped —
  *      crawl compliance applies to CONTINUOUS ingestion, not just the
  *      batch pipeline);
  *   3. cross-batch exact-deduplicated by [[StreamDedup.dedupBatch]]
  *      (epoch-partitioned digest store; replay-idempotent).
  *
  * Every drop class is returned, not swallowed: (accepted, corrupt,
  * invalid, blocked) — `invalid` is the well-formed-but-unusable class
  * (a cleanly-parsed line whose doc_id is null is not CSV corruption,
  * but it cannot be ingested either; dropping it silently would break
  * accepted+corrupt+invalid+blocked == batch-size reconciliation).
  * The robots verdict is keyed on the ROW-unique line id, not doc_id —
  * a stream carries no doc_id-uniqueness guarantee, and two rows
  * sharing a doc_id with different paths must gate independently.
  * Delivery semantics are [[StreamDedup]]'s: exactly-once on the digest
  * store, at-least-once on `accept`; steps 1–2 are deterministic
  * projections/broadcast-joins, so an epoch replay re-derives identical
  * survivors.
  */
object StreamWebIngest {

  def ingestBatch(
      batch: DataFrame,
      lineIdCol: Column,
      lineCol: Column,
      domainCol: Column,
      pathCol: Column,
      robots: DataFrame,
      robotsDomainCol: Column,
      robotsTxtCol: Column,
      agent: String,
      digestStore: String,
      epoch: Long,
      accept: (DataFrame, Long) => Unit
  ): (Long, Long, Long, Long) = {
    // one parse, reused by every downstream pass (count, gate, dedup)
    Bridge.cacheRows(CorpusOps.csvIngest(batch, lineIdCol, lineCol)) { parsed =>
      // one aggregation pass for both drop-class counts
      val counts = parsed
        .agg(
          sum(col("is_corrupt").cast("long")).as("c"),
          sum((!col("is_corrupt") && col("doc_id").isNull).cast("long")).as("i")
        )
        .head()
      val corrupt = Option(counts.get(0)).fold(0L)(_.asInstanceOf[Long])
      val invalid = Option(counts.get(1)).fold(0L)(_.asInstanceOf[Long])
      val withUrl = parsed
        .filter(!col("is_corrupt") && col("doc_id").isNotNull)
        .select(
          col("line_id"),
          col("doc_id"),
          col("text"),
          col("lang"),
          domainCol.as("__dom"),
          pathCol.as("__path")
        )
      val allowed = Robots
        .fetchGate(
          withUrl, col("line_id"), col("__dom"), col("__path"),
          robots, robotsDomainCol, robotsTxtCol, agent
        )
        .filter(col("allowed"))
        .select(col("url_id").as("__ok"))
      Bridge.cacheRows(withUrl.join(allowed, withUrl("line_id") === col("__ok"), "left_semi")) { fetchable =>
        val blocked = withUrl.count() - fetchable.count()
        val accepted = StreamDedup.dedupBatch(
          fetchable.select(col("doc_id"), col("text"), col("lang")),
          col("text"),
          col("doc_id"),
          digestStore,
          epoch,
          accept
        )
        (accepted, corrupt, invalid, blocked)
      }
    }
  }
}
