package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.operators.{Dedup, Multimodal}

/** Streaming mirror of the MEDIA near-dup gates — cross-batch perceptual
  * dedup for a continuously-ingesting multimodal corpus: each micro-batch
  * hashes its media (image aHash, audio energy fingerprint, or video
  * frame hashes — any producer of the `(id, simhash)` column contract)
  * and drops items whose fingerprint sits within `maxHamming` bits of
  * anything already accepted, using the SAME Manku pigeonhole blocking
  * the batch operators use — fingerprints meet on block keys, never in
  * an all-pairs scan.
  *
  * The accepted state lives as a FINGERPRINT [[EpochStore]] (rows
  * (id, simhash) — 16 bytes of state per accepted item; block keys are
  * recomputed on read, deterministic). Per micro-batch:
  *
  *   1. OVERWRITE the epoch's directory with this batch's fingerprints;
  *   2. block-join the batch against prior ∪ batch (the store before this
  *      epoch, and the batch itself) under one keep rule: a batch item
  *      drops if a stored fingerprint, or a batch one with a smaller id,
  *      sits within `maxHamming` (the greedy keep-set: an item pairing
  *      ONLY with already-dropped items still drops — conservative;
  *      exact cluster resolution is the batch CC operator's job, x26);
  *   3. survivors (id, simhash) go to `accept`.
  *
  * Replays follow the [[EpochStore]] contract: exactly-once on the store,
  * at-least-once on `accept`.
  *
  * 100 TB shape: the store is fingerprints only (8-byte hashes + ids —
  * a billion accepted images is ~16 GB of parquet, scanned once per
  * micro-batch with only block keys + fps on the join); media bytes
  * never leave the batch's own decode pass.
  */
object StreamMediaDedup {

  /** One micro-batch of the recipe above, callable directly. `fps` is
    * the batch's `(id, simhash)` relation (from
    * [[graft.operators.Multimodal.aHash]] /
    * [[graft.operators.Multimodal.audioFingerprints]] / …). Returns the
    * survivor count handed to `accept`.
    */
  def dedupFpBatch(
      fps: DataFrame,
      fpStore: String,
      epoch: Long,
      accept: (DataFrame, Long) => Unit,
      maxHamming: Int = 2,
      blocks: Int = 4
  ): Long = {
    val spark = fps.sparkSession
    Bridge.cacheRows(fps.select(col("id"), col("simhash"))) { b =>
      // store first, then the gate (the EpochStore contract)
      EpochStore.write(b, fpStore, epoch)
      val prior = EpochStore.prior(spark, fpStore, b.schema, epoch)
      val dropped = nearRivals(b, prior, maxHamming, blocks).select(col("id"))
      Bridge.cacheRows(b.join(dropped, Seq("id"), "left_anti")) { out =>
        val n = out.count()
        accept(out, epoch)
        n
      }
    }
  }

  /** The keep rule, stated once: each unit of `batch` meets the units of
    * prior ∪ batch that kill it on equal `on` — any stored unit
    * (`r_stored`), or a batch unit of a smaller id. `batch` and `prior`
    * share their columns; the killer's columns come back prefixed `r_`.
    */
  private def rivals(batch: DataFrame, prior: DataFrame, on: String): DataFrame = {
    val pool = prior.withColumn("stored", lit(true)).unionByName(batch.withColumn("stored", lit(false)))
    batch
      .join(pool.select(pool.columns.toSeq.map(c => if (c == on) col(c) else col(c).as("r_" + c)): _*), Seq(on))
      .filter(col("r_stored") || col("r_id") < col("id"))
  }

  /** [[rivals]] of `(id, simhash, …)` units within `mh` bits, met on the
    * Manku block keys.
    */
  private def nearRivals(batch: DataFrame, prior: DataFrame, mh: Int, blocks: Int): DataFrame =
    rivals(Dedup.simhashBlocked(batch, mh, blocks), Dedup.simhashBlocked(prior, mh, blocks), "bk")
      .filter(Dedup.hamming(col("simhash"), col("r_simhash")) <= mh)

  /** TYPED streaming mirror of [[graft.operators.Multimodal.mediaDedupCatalog]]
    * — the batch/stream symmetry the rest of the engine keeps: one
    * `typeAndFingerprint` decode pass per micro-batch routes every blob
    * through the SAME kind-aware gates as the batch capstone, and the
    * survivors handed to `accept` carry the full typed catalog columns
    * (doc_id, kind, byte_len, width, height, n_frames, sample_rate,
    * n_samples — the x187 row shape), not a bare (id, simhash).
    *
    * The epoch store holds one row per FINGERPRINT UNIT:
    * (id, kind, simhash, frame_idx, digest) — image aHash / audio
    * energy fingerprint at frame_idx −1, per-frame video aHashes
    * (hash-identical repeats collapsed to their first position, the
    * catalog's voting-unit rule), and the content md5 `digest` alone
    * for fingerprint-less rows (structure-only MP3/MP4/FLAC/OGG typing,
    * unknown — dropped only on byte identity). ~25 bytes of state per
    * unit; media bytes never leave the batch's decode pass.
    *
    * Gates (each one join against prior ∪ batch under the
    * [[dedupFpBatch]] greedy keep rule — smaller id / stored item wins):
    *   - image/audio: Manku block join within the kind's maxHamming;
    *   - video: frame-unit block join, pair kept when BOTH sides match
    *     at ≥ `videoMinFrames` distinct positions (the catalog's gate);
    *   - fingerprint-less: digest equality.
    *
    * Replays follow the [[EpochStore]] contract, as [[dedupFpBatch]]'s do.
    */
  def typedDedupBatch(
      media: Dataset[Multimodal.MediaRow],
      fpStore: String,
      epoch: Long,
      accept: (DataFrame, Long) => Unit,
      imageMaxHamming: Int = 0,
      audioMaxHamming: Int = 0,
      videoMaxHamming: Int = 2,
      videoMinFrames: Int = 2,
      normalizeRate: Option[Int] = None,
      blocks: Int = 4
  ): Long = {
    val spark = media.sparkSession
    import spark.implicits._
    Bridge.cacheRows(media.mapPartitions(_.map(Multimodal.typeAndFingerprint(_, normalizeRate))).toDF()) { typed =>
      val nullBin = lit(null).cast("binary")
      val scalarUnits = typed
        .filter(col("fp").isNotNull)
        .select(col("doc_id").as("id"), col("kind"), col("fp").as("simhash"),
          lit(-1).as("frame_idx"), nullBin.as("digest"))
      val videoUnits = typed
        .filter(col("kind") === "video" && col("frame_hashes").isNotNull)
        .select(col("doc_id"), posexplode(col("frame_hashes")))
        .groupBy(col("doc_id"), col("col"))
        .agg(min(col("pos")).as("fidx"))
        .select(col("doc_id").as("id"), lit("video").as("kind"), col("col").as("simhash"),
          col("fidx").cast("int").as("frame_idx"), nullBin.as("digest"))
      val digestUnits = typed
        .filter(col("fp").isNull && col("frame_hashes").isNull && col("digest").isNotNull)
        .select(col("doc_id").as("id"), col("kind"), lit(null).cast("long").as("simhash"),
          lit(-1).as("frame_idx"), col("digest"))
      Bridge.cacheRows(scalarUnits.unionByName(videoUnits).unionByName(digestUnits)) { units =>
        // store first, then the gates (the EpochStore contract)
        EpochStore.write(units, fpStore, epoch)
        val prior = EpochStore.prior(spark, fpStore, units.schema, epoch)
        def scalarOf(df: DataFrame, kind: String): DataFrame =
          df.filter(col("kind") === kind && col("simhash").isNotNull && col("frame_idx") === -1)
            .select(col("id"), col("simhash"))
        def videoOf(df: DataFrame): DataFrame =
          df.filter(col("kind") === "video" && col("simhash").isNotNull && col("frame_idx") >= 0)
            .select(col("id"), col("simhash"), col("frame_idx"))
        def digestOf(df: DataFrame): DataFrame =
          df.filter(col("digest").isNotNull).select(col("id"), col("digest"))
        def scalarDups(kind: String, mh: Int): DataFrame =
          nearRivals(scalarOf(units, kind), scalarOf(prior, kind), mh, blocks).select(col("id"))
        // a video pair counts when BOTH sides match at ≥ videoMinFrames
        // distinct positions
        val videoDups = nearRivals(videoOf(units), videoOf(prior), videoMaxHamming, blocks)
          .groupBy(col("id"), col("r_id"), col("r_stored"))
          .agg(countDistinct(col("frame_idx")).as("__nb"), countDistinct(col("r_frame_idx")).as("__nr"))
          .filter(least(col("__nb"), col("__nr")) >= videoMinFrames)
          .select(col("id"))
        val digestDups = rivals(digestOf(units), digestOf(prior), "digest").select(col("id"))
        val dropped = scalarDups("image", imageMaxHamming)
          .unionByName(scalarDups("audio", audioMaxHamming))
          .unionByName(videoDups)
          .unionByName(digestDups)
        val survivors = typed
          .join(dropped.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left_anti")
          .select(
            col("doc_id"), col("kind"), col("byte_len"), col("width"), col("height"),
            col("n_frames"), col("sample_rate"), col("n_samples")
          )
        Bridge.cacheRows(survivors) { survivors =>
          val n = survivors.count()
          accept(survivors, epoch)
          n
        }
      }
    }
  }
}
