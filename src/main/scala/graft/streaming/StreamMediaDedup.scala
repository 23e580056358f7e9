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
  *   2. block-join the batch against store-before-this-epoch: any stored
  *      fingerprint within `maxHamming` kills the batch item;
  *   3. within the batch, the smaller id survives a near-dup pair (the
  *      greedy keep-set: an item pairing ONLY with already-dropped items
  *      still drops — conservative; exact cluster resolution is the
  *      batch CC operator's job, x26);
  *   4. survivors (id, simhash) go to `accept`.
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
      val bb = Dedup.simhashBlocked(b, maxHamming, blocks)
      val pb = Dedup
        .simhashBlocked(prior, maxHamming, blocks)
        .select(col("bk"), col("simhash").as("__rfp"))
      val crossDup = bb
        .join(pb, Seq("bk"))
        .filter(Dedup.hamming(col("simhash"), col("__rfp")) <= maxHamming)
        .select(col("id"))
      // within-batch: the larger id of every near-dup pair drops
      val withinDup = Dedup
        .pairsFromFps(b, maxHamming, blocks)
        .select(col("id_b").as("id"))
      Bridge.cacheRows(b.join(crossDup.unionByName(withinDup).distinct(), Seq("id"), "left_anti")) { out =>
        val n = out.count()
        accept(out, epoch)
        n
      }
    }
  }

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
    * Gates (all against store-before-this-epoch AND within the batch,
    * the [[dedupFpBatch]] greedy keep rule — smaller id / stored item
    * wins):
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
        // cross-epoch: any stored fingerprint within range kills the batch item
        def scalarCross(kind: String, mh: Int): DataFrame = {
          val b = Dedup.simhashBlocked(scalarOf(units, kind), mh, blocks)
          val p = Dedup
            .simhashBlocked(scalarOf(prior, kind), mh, blocks)
            .select(col("bk"), col("simhash").as("__rfp"))
          b.join(p, Seq("bk"))
            .filter(Dedup.hamming(col("simhash"), col("__rfp")) <= mh)
            .select(col("id"))
        }
        val videoCross = {
          val b = Dedup
            .simhashBlocked(
              videoOf(units).select(struct(col("id"), col("frame_idx")).as("id"), col("simhash")),
              videoMaxHamming, blocks)
          val p = Dedup
            .simhashBlocked(
              videoOf(prior).select(struct(col("id"), col("frame_idx")).as("id"), col("simhash")),
              videoMaxHamming, blocks)
            .select(col("bk"), col("id").as("__rid"), col("simhash").as("__rfp"))
          b.join(p, Seq("bk"))
            .filter(Dedup.hamming(col("simhash"), col("__rfp")) <= videoMaxHamming)
            .select(col("id.id").as("bid"), col("id.frame_idx").as("bf"),
              col("__rid.id").as("pid"), col("__rid.frame_idx").as("pf"))
            .groupBy(col("bid"), col("pid"))
            .agg(countDistinct(col("bf")).as("__nb"), countDistinct(col("pf")).as("__np"))
            .filter(least(col("__nb"), col("__np")) >= videoMinFrames)
            .select(col("bid").as("id"))
        }
        val digestCross = units
          .filter(col("digest").isNotNull)
          .join(prior.filter(col("digest").isNotNull).select(col("digest")), Seq("digest"))
          .select(col("id"))
        // within-batch: the larger id of every pair drops (the greedy
        // keep-set — exact cluster resolution is the batch catalog's job)
        def scalarWithin(kind: String, mh: Int): DataFrame =
          Dedup.pairsFromFps(scalarOf(units, kind), mh, blocks).select(col("id_b").as("id"))
        val videoWithin = Dedup
          .pairsFromFps(
            videoOf(units).select(struct(col("id"), col("frame_idx")).as("id"), col("simhash")),
            videoMaxHamming, blocks)
          .filter(col("id_a.id") =!= col("id_b.id"))
          .select(col("id_a.id").as("ida"), col("id_b.id").as("idb"),
            col("id_a.frame_idx").as("fa"), col("id_b.frame_idx").as("fb"))
          .groupBy(col("ida"), col("idb"))
          .agg(countDistinct(col("fa")).as("__na"), countDistinct(col("fb")).as("__nb"))
          .filter(least(col("__na"), col("__nb")) >= videoMinFrames)
          .select(col("idb").as("id"))
        val digestWithin = {
          val fpless = units.filter(col("digest").isNotNull).select(col("id"), col("digest"))
          val hubs = fpless.groupBy(col("digest")).agg(min(col("id")).as("__hub"))
          fpless.join(hubs, Seq("digest")).filter(col("id") =!= col("__hub")).select(col("id"))
        }
        val dropped = scalarCross("image", imageMaxHamming)
          .unionByName(scalarCross("audio", audioMaxHamming))
          .unionByName(videoCross)
          .unionByName(digestCross)
          .unionByName(scalarWithin("image", imageMaxHamming))
          .unionByName(scalarWithin("audio", audioMaxHamming))
          .unionByName(videoWithin)
          .unionByName(digestWithin)
          .distinct()
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
