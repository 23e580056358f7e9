package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** Deduplication operators for web-scale corpora: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard. Designed for the 100 TB case:
  *
  *   - exact dedup groups on a 128-bit digest (32-char md5 hex), never on
  *     the document text, so the shuffle moves 32-byte keys;
  *   - near-dup candidate generation is LSH only — candidates come from
  *     equality joins on band/block keys (hash-partitioned, no cross
  *     product); exact similarity is computed only on candidate pairs;
  *   - all hashing uses Spark's codegen'd `xxhash64`/`hash` — no UDFs.
  */
object Dedup {

  /** Exact dedup: keep the smallest `idCol` per normalized-text digest.
    * min() as the representative choice is deterministic under any
    * partitioning.
    */
  def exact(df: DataFrame, text: Column, idCol: Column): DataFrame =
    df.select(TextOps.fingerprintMd5(text).as("fp"), idCol.as("keep_id"))
      .groupBy(col("fp"))
      .agg(min(col("keep_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Incremental exact dedup — the shape every CONTINUOUSLY-INGESTING
    * corpus needs: dedupe an incoming batch against the already-accepted
    * corpus (anti-join on the normalized-text digest) AND within itself
    * (smallest id per digest wins, like [[exact]]). Returns one row per
    * surviving digest: `fp`, `keep_id`, `n_copies` (copies within the
    * incoming batch only).
    *
    * Scale shape: both sides reduce to 32-char digests before any join;
    * the anti-join is hash-partitioned on the digest (AQE broadcasts the
    * batch side when it is small — the common case of a daily increment
    * against a 100 TB reference). The reference side never moves document
    * text, only digests, so re-checking a petabyte corpus costs one
    * digest scan.
    */
  def incremental(
      incoming: DataFrame,
      text: Column,
      idCol: Column,
      reference: DataFrame,
      refText: Column
  ): DataFrame =
    incrementalOnDigests(
      incoming,
      text,
      idCol,
      reference.select(TextOps.fingerprintMd5(refText).as("fp"))
    )

  /** [[incremental]] against a PRE-DIGESTED reference — an `fp` column of
    * [[graft.operators.TextOps.fingerprintMd5]] digests, the shape an
    * accepted-corpus digest STORE holds (the streaming twin
    * [[graft.streaming.StreamDedup]] persists exactly this column between
    * micro-batches so no epoch ever re-digests the corpus).
    */
  def incrementalOnDigests(
      incoming: DataFrame,
      text: Column,
      idCol: Column,
      refFp: DataFrame
  ): DataFrame = {
    val incFp = incoming.select(TextOps.fingerprintMd5(text).as("fp"), idCol.as("keep_id"))
    incFp
      .join(refFp.select(col("fp")).distinct(), Seq("fp"), "left_anti")
      .groupBy(col("fp"))
      .agg(min(col("keep_id")).as("keep_id"), count(lit(1)).as("n_copies"))
  }

  /** [[incremental]] with a Bloom prefilter — the shape that survives a
    * 100 TB accepted corpus. Same EXACT semantics (the sketch only ever
    * prunes; survivors of the prefilter are confirmed by digest equality),
    * different data movement:
    *
    *   - the reference side is SCANNED twice but NEVER SHUFFLED: scan 1
    *     folds all its digests into one mergeable Bloom sketch
    *     (partial-agg map-side, the merged filter rides a scalar subquery
    *     to every executor); scan 2 is a broadcast-semi-join probe against
    *     only the batch fps the sketch could not rule out;
    *   - the incoming batch never joins the full reference digest set: a
    *     bloom-negative row is CERTAIN to be new (no false negatives) and
    *     short-circuits with zero join, and the bloom-positive candidate
    *     set (true re-ingests + fpp of the batch) is small enough to
    *     broadcast both ways.
    *
    * Contrast with [[incremental]]'s plain anti-join, which shuffles every
    * reference digest each batch. Sketch distribution auto-switches: up
    * to the session's runtime-filter caps the filter rides a scalar
    * subquery; past them (`expectedRefItems` beyond ~9 M digests at the
    * defaults) it builds via [[graft.functions.sketch.broadcastBloom]] —
    * full-size, one copy per executor — instead of silently clamping to
    * fpp ≈ 1. Correctness never depends on the fpp, only the size of the
    * confirm set does.
    *
    * Broadcast guard: the two forced `broadcast()` hints are only safe
    * while the candidate set stays driver-sized, and a mostly-re-ingest
    * batch (or a clamped sketch whose fpp degraded) makes candidates ≈
    * the whole batch. The bound that matters is structural: candidates ⊆
    * the batch's DISTINCT digests and `present` ⊆ candidates, and the
    * batch's ROW count bounds its distinct digests from above. The row
    * count rides the batch pin's own job (an `Observation`, no extra
    * action); only a batch with more rows than `maxBroadcastCandidates`
    * pays a batch-only distinct-count (no reference scan — the
    * reference-side scan budget stays at exactly 2). Past
    * `maxBroadcastCandidates` distinct batch digests this method returns
    * [[incremental]]'s plain anti-join instead — the reference shuffles,
    * which is the price of a batch too big to broadcast even in the
    * worst case. Within the row bound the candidates broadcast without a
    * `distinct()` (the row bound already caps them). Default 2 M
    * digests ≈ 64 MB broadcast payload (32-char hex digests).
    *
    * Streaming dedup ([[graft.streaming.StreamDedup]]) uses
    * [[incrementalOnDriver]] instead: within the same guard the batch
    * itself is driver-sized, so probing the store with its digests
    * directly takes one store scan where this method takes two, and it
    * rebuilds no full-size sketch from the whole store every epoch.
    */
  def incrementalBloom(
      incoming: DataFrame,
      text: Column,
      idCol: Column,
      reference: DataFrame,
      refText: Column,
      expectedRefItems: Long = 4000000L,
      fpp: Double = 0.03,
      maxBroadcastCandidates: Long = 2000000L
  ): DataFrame =
    incrementalBloomOnDigests(
      incoming,
      text,
      idCol,
      reference.select(TextOps.fingerprintMd5(refText).as("fp")),
      expectedRefItems,
      fpp,
      maxBroadcastCandidates
    )

  /** [[incrementalBloom]] against a pre-digested reference (`fp` column),
    * see [[incrementalOnDigests]]. Same plan shape: the digest store is
    * scanned twice (sketch fold + confirm probe), never shuffled.
    */
  def incrementalBloomOnDigests(
      incoming: DataFrame,
      text: Column,
      idCol: Column,
      refDigests: DataFrame,
      expectedRefItems: Long = 4000000L,
      fpp: Double = 0.03,
      maxBroadcastCandidates: Long = 2000000L
  ): DataFrame = {
    // the batch's digest frame feeds the strategy decision and every probe
    // branch: pinned, so no consumer re-digests the incoming text, with
    // its row count riding the pin's own job
    val batchRows = org.apache.spark.sql.Observation()
    val incFp = graft.runtime.GraftCheckpoint.pin(
      incoming
        .select(TextOps.fingerprintMd5(text).as("fp"), idCol.as("keep_id"))
        .observe(batchRows, count(lit(1)).as("rows"))
    )
    val withinBound = batchRows.get("rows").asInstanceOf[Long] <= maxBroadcastCandidates
    if (!withinBound && incFp.select(col("fp")).distinct().count() > maxBroadcastCandidates)
      incrementalOnDigests(incoming, text, idCol, refDigests)
    else {
      import graft.functions.sketch
      val refFp = refDigests.select(col("fp"))
      // sketch distribution auto-switch: the scalar-subquery filter rides
      // every TASK CLOSURE, which is right up to the session's runtime-
      // filter bit cap (~8 MB default) and fatal near ~100 MB (measured —
      // see sketch.broadcastBloom). Past the cap the aggregate would
      // silently clamp (fpp → 1, pure confirm-join traffic), so an
      // accepted corpus grown beyond it — the StreamDedup store's fate —
      // flips to the broadcast build instead: same answer, full-size
      // filter, one copy per executor.
      val optimalBits =
        math.ceil(-expectedRefItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong
      val bitCap = incoming.sparkSession.conf
        .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
      val itemCap = incoming.sparkSession.conf
        .get("spark.sql.optimizer.runtime.bloomFilter.maxExpectedNumItems", "4000000").toLong
      val mightCol =
        if (optimalBits > bitCap || expectedRefItems > itemCap)
          sketch.broadcastBloom(refFp, xxhash64(col("fp")), expectedRefItems, fpp) match {
            case Some(bf) => coalesce(sketch.might_contain_bc(bf, xxhash64(col("fp"))), lit(false))
            case None     => lit(false)
          }
        else {
          val bloom = refFp
            .select(sketch.bloom_filter_agg(xxhash64(col("fp")), expectedRefItems, fpp).as("bf"))
            .scalar()
          coalesce(sketch.might_contain(bloom, xxhash64(col("fp"))), lit(false))
        }
      // NOT pinned: the three consumers land in ONE action whose plan
      // carries the bloom probe as a scalar subquery — ReuseSubquery/
      // ReuseExchange evaluate the reference-side build once per execution
      // already (and the probe must stay visible in the executed plan, the
      // DedupSimilaritySpec plan-shape contract)
      val flagged = incFp.withColumn("__might", mightCol)
      val mightFp = flagged.filter(col("__might")).select(col("fp"))
      val candidates = if (withinBound) mightFp else mightFp.distinct()
      // Which candidates truly exist in the reference: broadcast the (small)
      // candidate set so the reference is only scanned, never shuffled.
      val present = refFp.join(broadcast(candidates), Seq("fp"), "left_semi").distinct()
      val certainNew = flagged.filter(!col("__might")).drop("__might")
      val confirmedNew = flagged
        .filter(col("__might"))
        .drop("__might")
        .join(broadcast(present), Seq("fp"), "left_anti")
      certainNew
        .unionByName(confirmedNew)
        .groupBy(col("fp"))
        .agg(min(col("keep_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    }
  }

  /** [[incrementalOnDigests]] decided ON THE DRIVER, for a batch that is
    * driver-sized by construction (a streaming micro-batch): returns the
    * batch's NEW digests, each with the smallest id among its rows (`min`
    * semantics: null ids ignored, null when all are null), or None when
    * the batch holds more than `maxBroadcastCandidates` distinct digests —
    * the caller then takes the plain anti-join. `fp` is a
    * [[TextOps.fingerprintMd5]] digest column of `incoming`, `refDigests`
    * a frame with an `fp` column of the same digests. Digests and ids come
    * back as Catalyst-internal values (`UTF8String`, and the id as an
    * `InternalRow` holds it), ready for [[graft.functions.sketch.broadcastSet]]
    * and for writing as binary rows. The caller caches `incoming` when it
    * reads it again (the first job below fills the cache).
    *
    * Jobs: one collect of (`fp`, id), and one scan of the reference
    * filtered by membership in a broadcast set of the batch digests
    * (`present` — collected, never shuffled, no sketch; skipped for an
    * empty batch). Within-batch copies collapse to their smallest id on
    * the driver, so nothing shuffles at all. Nothing is converted to
    * external values: each partition returns its (`fp`, id) rows as one
    * array of `UnsafeRow` bytes, and the driver compares ids with the
    * type's interpreted ordering.
    *
    * Broadcast guard, the same bound as [[incrementalBloom]]'s: the
    * collect takes a partition's rows only while it holds at most
    * ⌈bound / partitions⌉ of them, so the driver never holds more than
    * about `maxBroadcastCandidates` rows. A batch past that (or skewed
    * past it) aggregates per digest on the executors first (min id per
    * digest), and is decided on the driver if its distinct digests are
    * within the bound.
    */
  def incrementalOnDriver(
      incoming: DataFrame,
      fp: Column,
      idCol: Column,
      refDigests: DataFrame,
      maxBroadcastCandidates: Long = 2000000L
  ): Option[Seq[(UTF8String, Any)]] = {
    import org.apache.spark.sql.graftbridge.Bridge
    val pairs = incoming.select(fp.as("fp"), idCol.as("id"))
    val schema = pairs.schema
    val rdd = Bridge.internalRows(pairs)
    val parts = rdd.getNumPartitions.max(1)
    val perPart = ((maxBroadcastCandidates + parts - 1) / parts).min(Int.MaxValue - 1L).toInt
    // (rows, packed rows) per partition; null marks one past its share
    val taken = rdd
      .mapPartitions { it =>
        var n = 0
        val packed = Bridge.packRows(it.take(perPart + 1).map { r => n += 1; r }, schema)
        Iterator.single(if (n > perPart) null else (n, packed))
      }
      .collect()
    val rows: Option[Iterator[InternalRow]] =
      if (taken.forall(_ != null) && taken.iterator.map(_._1.toLong).sum <= maxBroadcastCandidates)
        Some(taken.iterator.flatMap(t => Bridge.unpackRows(t._2, schema.length)))
      else {
        val perFp = pairs.groupBy(col("fp")).agg(min(col("id")).as("id"))
        if (perFp.count() > maxBroadcastCandidates) None else Some(Bridge.collectInternal(perFp).iterator)
      }
    rows.map { rs =>
      val idType = schema("id").dataType
      val order = org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(idType)
      val smallest = new java.util.HashMap[UTF8String, Any]()
      rs.foreach { r =>
        val d = if (r.isNullAt(0)) null else r.getUTF8String(0)
        val id = if (r.isNullAt(1)) null else r.get(1, idType)
        val cur = smallest.get(d)
        if (!smallest.containsKey(d) || (id != null && (cur == null || order.lt(id, cur))))
          smallest.put(d, id)
      }
      val digests = smallest.keySet.asScala
      val present = new java.util.HashSet[UTF8String]()
      if (digests.exists(_ != null)) {
        import graft.functions.sketch
        val probe = sketch.broadcastSet(incoming.sparkSession, StringType, digests)
        try
          Bridge
            .collectInternal(refDigests.filter(sketch.in_broadcast_set(probe, col("fp"))).select(col("fp")))
            .foreach(r => present.add(r.getUTF8String(0)))
        finally probe.destroy()
      }
      smallest.asScala.iterator.filter { case (d, _) => !present.contains(d) }.toVector
    }
  }

  /** Incremental NEAR-dup dedup: gate an ingest batch against the accepted
    * corpus at MinHash-LSH granularity — the fuzzy sibling of
    * [[incremental]]/[[incrementalBloom]] (which are exact-digest only),
    * and the gate production crawls actually run: a re-crawl that
    * reorders whitespace or drops a header must still be rejected.
    * Returns ONE row per batch doc: (id, dup_of = smallest matching
    * reference id or null, n_ref_matches, kept).
    *
    * Shape: candidates come from a band-key equi-join of the reference's
    * band table against the BATCH's (broadcast — a batch is small by
    * definition), so the reference is scanned, never shuffled; the exact
    * Jaccard verify joins only the CANDIDATE reference rows (broadcast
    * candidate ids) — the second scan-not-shuffle pass, mirroring
    * [[incrementalBloom]]'s confirm join. Within-batch collapse is
    * [[fuzzyDedup]]'s job; this operator is the cross-batch gate. At
    * 100 TB the reference band table and shingle sets are the natural
    * thing to PERSIST between batches (they are the index — build once,
    * append accepted docs per epoch, exactly like StreamDedup's digest
    * store).
    *
    * Verification note: candidates are verified with EXACT Jaccard, so
    * false positives are impossible; recall is the standard LSH curve —
    * at (numHashes=32, bands=16) a true pair at J=t survives with
    * 1−(1−t²)¹⁶ (0.9997 at t=0.6, 1−1e-11 at t=0.9). Size bands for the
    * threshold as usual.
    */
  def incrementalFuzzy(
      batch: DataFrame,
      text: Column,
      idCol: Column,
      reference: DataFrame,
      refText: Column,
      refIdCol: Column,
      n: Int = 3,
      numHashes: Int = 32,
      bands: Int = 16,
      threshold: Double = 0.6
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    def prep(df: DataFrame, t: Column, id: Column): DataFrame =
      df.select(id.as("id"), array_distinct(shingles(t, n)).as("sh"))
        .select(col("id"), col("sh"), graft.functions.text.minhash_sig(col("sh"), numHashes).as("sig"))
    def bandTable(d: DataFrame): DataFrame = {
      val bandCols = (0 until bands).map { b =>
        struct(
          lit(b).as("band"),
          xxhash64((b * rows until (b + 1) * rows).map(i => element_at(col("sig"), i + 1)): _*).as("bucket")
        )
      }
      d.select(col("id"), explode(array(bandCols: _*)).as("bk"))
        .select(col("id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    }
    val bt = prep(batch, text, idCol)
    val rf = prep(reference, refText, refIdCol)
    val cand = bandTable(rf)
      .join(
        broadcast(bandTable(bt).withColumnRenamed("id", "batch_id")),
        Seq("band", "bucket")
      )
      .select(col("batch_id"), col("id").as("ref_id"))
      .dropDuplicates("batch_id", "ref_id")
    val verified = rf
      .select(col("id").as("ref_id"), col("sh").as("sh_r"))
      .join(broadcast(cand), Seq("ref_id"))
      .join(broadcast(bt.select(col("id").as("batch_id"), col("sh").as("sh_b"))), Seq("batch_id"))
      .filter(
        size(array_intersect(col("sh_b"), col("sh_r"))).cast("double") /
          size(array_union(col("sh_b"), col("sh_r"))).cast("double") >= threshold
      )
      .groupBy(col("batch_id"))
      .agg(min(col("ref_id")).as("dup_of"), count(lit(1)).as("n_ref_matches"))
    bt.select(col("id"))
      .join(verified.withColumnRenamed("batch_id", "id"), Seq("id"), "left")
      .select(
        col("id"),
        col("dup_of"),
        coalesce(col("n_ref_matches"), lit(0L)).as("n_ref_matches"),
        col("dup_of").isNull.as("kept")
      )
  }

  /** Word `n`-gram shingles of a text column → array&lt;string&gt;.
    * Documents shorter than `n` tokens yield their whole text as the single
    * shingle (so they can still match exactly).
    */
  def shingles(text: Column, n: Int): Column =
    graft.functions.text.word_shingles(text, n)

  /** LSH banding: split a signature of `numHashes` values into `bands`
    * bands of `numHashes / bands` rows each; each band hashes to one
    * bucket key. Two docs collide in a band iff that band's slice of the
    * signature is identical (classic MinHash-LSH, Broder '97 /
    * Leskovec-Rajaraman-Ullman ch.3).
    */
  def bandKeys(sig: Column, numHashes: Int, bands: Int): Column = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    array(
      (0 until bands).map { b =>
        struct(
          lit(b).as("band"),
          xxhash64(concat_ws("_", slice(sig, b * rows + 1, rows).cast("array<string>")).as("k")).as("bucket")
        )
      }: _*
    )
  }

  /** MinHash-LSH near-duplicate pairs with exact Jaccard verification.
    *
    * Pipeline: shingle → signature → explode band keys → self-join on
    * (band, bucket) → distinct candidate pairs → exact Jaccard on shingle
    * sets → filter ≥ `threshold`. The join is a plain equality hash join on
    * the band key; with b bands the shuffle is b rows per doc — at 100 TB
    * this is the standard linear-scaling layout (no pairwise blowup outside
    * genuinely colliding buckets).
    */
  def minhashPairs(
      df: DataFrame,
      text: Column,
      idCol: Column,
      n: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.8
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // pinned: the shingle arrays feed the signature pass AND the exact
    // Jaccard verify joins (2 sides) — unpinned, shingling re-ran 4x
    // (band self-join sides + both verify sides)
    val docs = graft.runtime.GraftCheckpoint.pin(
      df.select(idCol.as("id"), array_distinct(shingles(text, n)).as("sh"))
    )
    // signature as ONE native-expression pass per row — no explode, no
    // aggregation, no shuffle at all until the band join (the former
    // explode + 32-min-agg stage dominated the 1M-doc stress at 86 s;
    // bit-identical hash chain, see graft.functions.text.MinHashSig)
    val sig = docs.select(col("id"), graft.functions.text.minhash_sig(col("sh"), numHashes).as("sig"))
    // band keys: hash each signature slice; candidates join on (band, key)
    // carrying ONLY ids — document shingles never ride the band shuffle.
    // Pinned (ids + band keys, the mass the join shuffles anyway) so the
    // self-join's two sides share one signature pass.
    val bandCols = (0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        xxhash64((b * rows until (b + 1) * rows).map(i => element_at(col("sig"), i + 1)): _*).as("bucket")
      )
    }
    val banded = graft.runtime.GraftCheckpoint.pin(
      sig.select(col("id"), explode(array(bandCols: _*)).as("bk"))
        .select(col("id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    )
    val cand = banded
      .join(banded.withColumnRenamed("id", "id_b"), Seq("band", "bucket"))
      .filter(col("id") < col("id_b"))
      .select(col("id").as("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    // exact Jaccard verification: two id-equi-joins back to the (small
    // relative to candidates) shingle-set table
    cand
      .join(docs.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(docs.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn(
        "jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double")
      )
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** SimHash 64-bit fingerprint (Charikar '02 / Manku et al. WWW'07):
    * per token hash, each of the 64 bit positions votes ±1; fingerprint bit
    * = sign of the vote sum.
    *
    * Formulation history: a higher-order `aggregate` fold loses to
    * explode + 64 codegen'd conditional-sum aggregates (interpreted
    * lambdas, measured ~1.5× slower), which in turn loses to the current
    * single native-expression pass — zero shuffle, no aggregation
    * machinery at all.
    */
  def simhash(df: DataFrame, text: Column, idCol: Column): DataFrame =
    // one native-expression pass per row — no explode, no 64 vote
    // aggregates, no shuffle (bit-identical hash/vote chain, see
    // graft.functions.text.SimHash64; ids are assumed unique per doc)
    df.select(
      idCol.as("id"),
      graft.functions.text.simhash64(array_distinct(split(text, " "))).as("simhash")
    )

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: block the 64-bit fingerprint into `blocks`
    * equal slices; by pigeonhole, any pair within Hamming distance
    * `maxHamming` shares at least `blocks − maxHamming` exact blocks, so
    * it agrees on at least one of the C(blocks, blocks−maxHamming)
    * block-combinations → equality join per combination key, then exact
    * Hamming filter (Manku et al. WWW'07's permute-and-block scheme,
    * generalized to multi-block keys).
    *
    * `blocks` tunes the candidate-key WIDTH, which is what keeps
    * background collisions O(planted) as the corpus grows: with the
    * minimal `blocks = maxHamming + 1` (the default) keys are single
    * 64/blocks-bit slices — 16 bits at the default 4 — and birthday
    * collisions make candidate mass grow O(n²/2¹⁶), fine to ~1 M docs.
    * Raising `blocks` (e.g. 6 with maxHamming 3) joins on
    * (blocks−maxHamming)-block concatenations — ~30-bit keys, C(6,3)=20
    * exploded rows per doc — trading linear shuffle volume for
    * quadratically fewer spurious candidates; this is Manku's actual
    * multi-table layout for multi-billion-doc corpora. Results are
    * identical for any valid `blocks` (the final Hamming filter is exact;
    * wider keys only shrink the candidate superset).
    */
  def simhashPairs(
      df: DataFrame,
      text: Column,
      idCol: Column,
      maxHamming: Int = 3,
      blocks: Int = 4
  ): DataFrame =
    pairsFromFps(simhash(df, text, idCol), maxHamming, blocks)

  /** The shared pair-join tail of the Manku scheme — blocked equality
    * join on the combination keys, ordered-pair dedup, exact Hamming
    * filter — over ANY (id, simhash) fingerprint relation. One
    * definition serves [[simhashPairs]] and the perceptual-hash image
    * path ([[graft.operators.Multimodal.imageNearDupPairs]]), so the
    * join contract (id ordering, dedup-before-filter, single hamming
    * evaluation) cannot drift between modalities.
    */
  private[graft] def pairsFromFps(fps: DataFrame, maxHamming: Int, blocks: Int): DataFrame =
    pairsFromFps(fps, maxHamming, blocks, pinBlocked = true)

  /** [[pairsFromFps]] with the blocked-relation pin made opt-out:
    * `pinBlocked = false` is for callers whose `fps` is ALREADY a pinned
    * frame (or a cheap projection of one) — re-pinning there buys nothing
    * (the join sides would re-read materialized blocks either way) and
    * costs one eager materialization job per call, which is what made the
    * x187/x188 capstones pay four pin jobs per pass for one decode pass
    * (three near-dup legs re-pinned trivially-derived key relations on
    * top of the already-pinned typed frame).
    */
  private[graft] def pairsFromFps(
      fps: DataFrame,
      maxHamming: Int,
      blocks: Int,
      pinBlocked: Boolean
  ): DataFrame = {
    // pin the blocked key relation: the self-join's two sides otherwise
    // each re-execute the fingerprint upstream — for the media callers
    // that is a FULL second decode pass of every blob (image/audio/video
    // near-dup all route here). The pinned frame is ids + 8-byte hashes +
    // combo keys — the exact mass the join shuffles anyway, so the
    // materialization adds one linear write in exchange for halving the
    // upstream cost at any scale.
    val raw = simhashBlocked(fps, maxHamming, blocks)
    val blocked =
      if (pinBlocked) graft.runtime.GraftCheckpoint.pin(raw) else raw
    val l = blocked.select(col("bk"), col("id").as("id_a"), col("simhash").as("fp_a"))
    val r = blocked.select(col("bk"), col("id").as("id_b"), col("simhash").as("fp_b"))
    l.join(r, Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", hamming(col("fp_a"), col("fp_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** The candidate-key relation behind [[simhashPairs]]: one row per
    * (doc, block-combination): `fps`'s columns plus `bk` = xxhash64(combo
    * id, the combo's block values). Exposed package-private so the scale
    * stress can measure candidate-pair mass (Σ C(bucket,2)) from the very
    * keys the join uses. A 64-bit hash collision can only ADD a spurious
    * candidate (removed by the exact Hamming filter), never lose one —
    * equal block values always hash equal.
    */
  private[graft] def simhashBlocked(fps: DataFrame, maxHamming: Int, blocks: Int): DataFrame = {
    require(
      blocks > maxHamming,
      s"pigeonhole needs blocks > maxHamming (got blocks=$blocks, maxHamming=$maxHamming): " +
        s"a pair at distance >= $blocks can differ in every block and would be silently missed"
    )
    val width = 64 / blocks
    val agree = blocks - maxHamming
    val combos = (0 until blocks).combinations(agree).toSeq
    require(
      combos.size <= 256,
      s"C($blocks, $agree) = ${combos.size} combination keys per doc — lower blocks or raise maxHamming"
    )
    def blockVal(b: Int): Column =
      shiftright(col("simhash"), b * width).bitwiseAND((1L << width) - 1)
    val keys = combos.zipWithIndex.map { case (combo, ci) =>
      xxhash64((lit(ci) +: combo.map(blockVal)): _*)
    }
    fps.select(col("*"), explode(array(keys: _*)).as("bk"))
  }

  /** Exact n-gram Jaccard similarity for ALL pairs above a threshold.
    * Candidate generation by inverted index on shingles (explode + equi-join
    * on the shingle itself), counting shared shingles per pair, then
    * |A∩B| / (|A| + |B| − |A∩B|) — never materializes the full cross
    * product; pairs sharing zero shingles never meet. This is the exact
    * (non-probabilistic) twin of [[minhashPairs]]; at 100 TB prefer MinHash
    * (bounded b·docs shuffle) — the inverted index explodes with shingle
    * frequency skew.
    */
  /** Exact n-gram Jaccard pairs with PREFIX FILTERING (Chaudhuri et al.
    * ICDE'06 / Xiao et al. WWW'08 "PPJoin"): for Jaccard ≥ t, two sets of
    * sizes |A|,|B| must share an element among the first
    * |X| − ⌈t·|X|⌉ + 1 elements of each, under ANY global element order.
    * Ordering by ascending global frequency makes those prefixes the
    * RAREST shingles, so the inverted index shrinks to prefixes of rare
    * keys — the hot-shingle pair blowup of the naive index disappears
    * while the result stays exactly equal (no false negatives by the
    * prefix-filter theorem; candidates are verified with full-set
    * Jaccard).
    *
    * Cost shape at 100 TB: two extra narrow shuffles (frequency count +
    * per-doc re-sort) in exchange for an inverted index whose join keys
    * are low-frequency by construction.
    */
  def ngramJaccardPairsPrefix(
      df: DataFrame,
      text: Column,
      idCol: Column,
      n: Int = 3,
      threshold: Double = 0.5
  ): DataFrame =
    prefixPairsOn(hashedShingleDocs(df, text, idCol, n), threshold)

  /** Pinned (id, sh: array<hashed shingle>, nsh) corpus frame shared by
    * every strategy of the n-gram Jaccard family: shingling + hashing is
    * the dominant per-row CPU of these operators, and the unpinned
    * formulation re-ran it once per self-join side plus once for the
    * auto-switch cost model (3x; measured on x6 — the shingle stage was
    * 1.4 s of a 2.5 s query). One pinned pass at any scale.
    */
  private def hashedShingleDocs(
      df: DataFrame,
      text: Column,
      idCol: Column,
      n: Int
  ): DataFrame =
    graft.runtime.GraftCheckpoint.pin(
      df.select(idCol.as("id"), transform(array_distinct(shingles(text, n)), s => xxhash64(s)).as("sh"))
        .withColumn("nsh", size(col("sh")))
    )

  /** PPJoin body over a pinned [[hashedShingleDocs]] frame. The ranked
    * prefix-key relation is itself pinned — its self-join would otherwise
    * re-run the frequency join + per-doc sort twice.
    */
  private def prefixPairsOn(docs: DataFrame, threshold: Double): DataFrame = {
    val inv = docs.select(col("id"), col("nsh"), explode(col("sh")).as("s"))
    val freq = inv.groupBy(col("s")).agg(count(lit(1)).as("df"))
    // global order: (frequency asc, hash asc); prefix keeps the rarest
    val ranked = graft.runtime.GraftCheckpoint.pin(
      inv
        .join(freq, Seq("s"))
        .groupBy(col("id"), col("nsh"))
        .agg(array_sort(collect_list(struct(col("df"), col("s")))).as("ordered"))
        .withColumn("plen", (col("nsh") - ceil(col("nsh") * threshold) + 1).cast("int"))
        .select(col("id"), col("nsh"), explode(slice(transform(col("ordered"), e => e.getField("s")), lit(1), greatest(col("plen"), lit(1)))).as("s"))
    )
    val cand = ranked
      .select(col("s"), col("id").as("id_a"), col("nsh").as("n_a"))
      .join(ranked.select(col("s"), col("id").as("id_b"), col("nsh").as("n_b")), Seq("s"))
      .filter(col("id_a") < col("id_b"))
      // size filter: |A∩B| ≤ min sizes, so J ≥ t needs t·max ≤ min
      .filter(col("n_a") * threshold <= col("n_b") && col("n_b") * threshold <= col("n_a"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    cand
      .join(docs.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(docs.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn(
        "jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double")
      )
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** [[ngramJaccardPairs]] with the naive↔prefix-filter strategy picked
    * AUTOMATICALLY from a COST model — the 100 TB path without asking the
    * caller to know the crossover. The naive inverted index's work is its
    * candidate mass Σ C(df(s), 2) over shingle document frequencies;
    * PPJoin's advantage scales with how small its rare-shingle prefix is
    * (≈ (1−t) of each doc's shingles), bought with two extra narrow
    * shuffles — the prefix SHRINKS as t rises, so the crossover falls
    * with (1−t): `cand/mass > switchRatio · (1 − threshold)` → prefix.
    *
    * Calibrated on measured A/B regimes (StressXOps ngramab): a 100k-doc
    * boilerplate corpus (20% share a verbatim footer — the real web
    * shape) has cand/mass ≈ 490 and PPJoin wins 8.3× (687 s → 82 s);
    * a pure Zipf-token corpus at ratio ≈ 22 and the skewed sf0.1 twin at
    * ratio ≈ 61 (t = 0.2) both run FASTER on the naive index (PPJoin
    * 0.9×/0.6×: its extra shuffles don't pay below the crossover); the
    * uniform oracle corpus (max df ≤ 25, ROUND_NOTES r5) is deep in naive
    * territory. switchRatio = 320 puts the crossover at 64 for t = 0.8
    * and 256 for t = 0.2 — separating every measured regime at both
    * thresholds. The decision spends one partial-agg job over
    * distinct-shingle counts — nothing pairwise — like AQE's runtime
    * re-plans. Results are identical either way (equivalence-tested in
    * DedupSimilaritySpec).
    */
  def ngramJaccardPairsAuto(
      df: DataFrame,
      text: Column,
      idCol: Column,
      n: Int = 3,
      threshold: Double = 0.5,
      switchRatio: Double = 320.0
  ): DataFrame = {
    // one pinned shingle pass feeds the cost model AND the chosen
    // strategy (the decision aggregate runs over the pinned frame, so the
    // former third shingling pass is now a cheap explode+agg)
    val docs = hashedShingleDocs(df, text, idCol, n)
    val r = docs
      .select(explode(col("sh")).as("s"))
      .groupBy(col("s"))
      .agg(count(lit(1)).as("df"))
      .agg(
        coalesce(sum(col("df")), lit(0L)).as("mass"),
        coalesce(sum((col("df") * (col("df") - 1)).cast("long")), lit(0L)).as("cand2x")
      )
      .head()
    val mass = r.getLong(0)
    val prefer = mass > 0 && r.getLong(1).toDouble / 2.0 / mass > switchRatio * (1.0 - threshold)
    if (prefer) prefixPairsOn(docs, threshold) else naivePairsOn(docs, threshold)
  }

  /** True when the naive index's candidate mass Σ C(df, 2) exceeds
    * `switchRatio · (1 − threshold)` times the linear shingle mass Σ df —
    * the regime where PPJoin's rare-prefix index wins (see
    * [[ngramJaccardPairsAuto]] for the measured calibration).
    */
  private[graft] def preferPrefixStrategy(
      df: DataFrame,
      text: Column,
      n: Int,
      threshold: Double,
      switchRatio: Double = 320.0
  ): Boolean = {
    require(threshold > 0.0 && threshold < 1.0, s"threshold in (0,1), got $threshold")
    val r = df
      .select(explode(array_distinct(shingles(text, n))).as("s"))
      .groupBy(col("s"))
      .agg(count(lit(1)).as("df"))
      .agg(
        coalesce(sum(col("df")), lit(0L)).as("mass"),
        coalesce(sum((col("df") * (col("df") - 1)).cast("long")), lit(0L)).as("cand2x")
      )
      .head()
    val mass = r.getLong(0)
    mass > 0 && r.getLong(1).toDouble / 2.0 / mass > switchRatio * (1.0 - threshold)
  }

  /** One-call fuzzy dedup — the standard web-corpus recipe end to end:
    * MinHash-LSH near-dup pairs → connected components (transitive
    * closure, [[ConnectedComponents]]) → cluster assignment with the
    * smallest doc id as the kept representative. Returns one row per
    * input document: (doc_id, component, n_members, is_rep); filter
    * `is_rep` for the deduplicated corpus. Every stage is the bounded
    * candidate layout documented on its operator — nothing here is
    * all-pairs.
    */
  def fuzzyDedup(
      df: DataFrame,
      text: Column,
      idCol: Column,
      n: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.8
  ): DataFrame =
    ConnectedComponents.assignClusters(
      df,
      idCol,
      minhashPairs(df, text, idCol, n, numHashes, bands, threshold)
    )

  /** [[fuzzyDedup]] with the keep-best representative policy
    * ([[ConnectedComponents.assignClustersKeepBest]]): per cluster the
    * highest-`quality` member survives instead of the smallest id.
    * Returns (doc_id, component, n_members, quality, keep).
    */
  def fuzzyDedupKeepBest(
      df: DataFrame,
      text: Column,
      idCol: Column,
      quality: Column,
      n: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.8
  ): DataFrame =
    ConnectedComponents.assignClustersKeepBest(
      df,
      idCol,
      quality,
      minhashPairs(df, text, idCol, n, numHashes, bands, threshold)
    )

  def ngramJaccardPairs(
      df: DataFrame,
      text: Column,
      idCol: Column,
      n: Int = 3,
      threshold: Double = 0.5
  ): DataFrame =
    naivePairsOn(hashedShingleDocs(df, text, idCol, n), threshold)

  /** Naive-inverted-index body over a pinned [[hashedShingleDocs]] frame.
    * The join is on the 64-bit shingle hash, not the string: the self-join
    * shuffles 8-byte keys instead of n-gram text (collision odds across
    * distinct shingles are ~|S|^2 / 2^65 — negligible below ~10^8
    * shingles). Both join sides explode the SAME pinned frame, so the
    * shingle pass runs once.
    */
  private def naivePairsOn(docs: DataFrame, threshold: Double): DataFrame = {
    val inv = docs.select(col("id"), col("nsh"), explode(col("sh")).as("s"))
    val l = inv.select(col("s"), col("id").as("id_a"), col("nsh").as("n_a"))
    val r = inv.select(col("s"), col("id").as("id_b"), col("nsh").as("n_b"))
    l.join(r, Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn(
        "jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")).cast("double")
      )
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Asymmetric n-gram CONTAINMENT pairs — `C(a→b) = |S(a)∩S(b)|/|S(a)|`
    * — the quote/excerpt detector: a short document whose shingles all
    * appear inside a longer one is contained (C→1) even though its
    * Jaccard against the host is tiny (≈|S(a)|/|S(b)|), so symmetric
    * near-dup misses exactly this case; dedup policy usually drops the
    * contained copy. Returns ORDERED pairs (`id_a` contained in `id_b`):
    * (id_a, id_b, n_common, containment), containment ≥ `threshold`,
    * id_a ≠ id_b, 6dp.
    *
    * Scale shape: the same ids-plus-8-byte-hash inverted-index equi-join
    * as [[ngramJaccardPairs]] (the self-join shuffles xxhash64 keys,
    * never n-gram text), with ordered instead of unordered grouping (2×
    * the candidate mass). Hot-shingle skew behaves exactly like the x6
    * family; the PPJoin/auto-switch analysis there carries over.
    */
  def ngramContainmentPairs(
      df: DataFrame,
      text: Column,
      idCol: Column,
      n: Int = 3,
      threshold: Double = 0.8
  ): DataFrame = {
    val docs = df.select(idCol.as("id"), array_distinct(shingles(text, n)).as("sh"))
      .withColumn("nsh", size(col("sh")))
    val inv = docs.select(col("id"), col("nsh"), explode(col("sh")).as("s0"))
      .select(col("id"), col("nsh"), xxhash64(col("s0")).as("s"))
    val l = inv.select(col("s"), col("id").as("id_a"), col("nsh").as("n_a"))
    val r = inv.select(col("s"), col("id").as("id_b"))
    l.join(r, Seq("s"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("n_a"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("containment", round(col("n_common").cast("double") / col("n_a"), 6))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_common"), col("containment"))
  }

  /** Key-level keep-best dedup: group rows by an arbitrary key expression
    * (e.g. a normalized URL from [[TextOps.urlNormalize]], a canonical
    * title, a media digest) and keep the row with the highest preference
    * score — ties break to the smallest id, deterministically. Emits ALL
    * rows with a `kept` flag plus the group's `n_dups` (count-and-flag,
    * never silently drop).
    *
    * Shape at 100 TB: NOT a window. A `count/row_number OVER (PARTITION
    * BY key)` puts a hot key (a crawl that captured one URL a billion
    * times) into ONE sort task, and Spark has no skew mitigation for
    * windows. Instead the per-key summary (count + arg-max winner) is a
    * partial-aggregating groupBy — the hot key collapses map-side to one
    * row per task BEFORE its exchange — and the flag comes back via an
    * equi-join, where AQE's skew-join split handles the hot key on the
    * probe side. Ids must be unique (standard corpus contract); the
    * winner is then exactly the (max pref, min id) row. The key should
    * be a digest/short string, not document text.
    */
  def keepBestByKey(
      df: DataFrame,
      keyCol: Column,
      prefCol: Column,
      idCol: Column
  ): DataFrame = {
    val rows = df.select(
      keyCol.as("key"),
      idCol.as("doc_id"),
      prefCol.cast("double").as("pref")
    )
    val winners = rows
      .groupBy(col("key"))
      .agg(
        count(lit(1)).as("n_dups"),
        // (max pref, min id) winner WITHOUT negating the id — ids may be
        // strings (URLs/digests); under min_by the ordering struct leads
        // with an isNull flag so null-pref rows always lose to scored ones
        min_by(
          col("doc_id"),
          struct(col("pref").isNull, negate(col("pref")), col("doc_id"))
        ).as("__winner")
      )
      .withColumnRenamed("key", "__wkey")
    rows
      // null-safe equality: a NULL key is a legitimate group (groupBy
      // already made one row for it) and its rows must come back flagged,
      // not silently vanish through a plain inner join
      .join(winners, col("key") <=> col("__wkey"))
      .withColumn("kept", col("doc_id") === col("__winner"))
      .select(col("key"), col("doc_id"), col("pref"), col("n_dups"), col("kept"))
  }

  /** Pagination-stitch candidates: ordered pairs (a, b) where the LAST
    * `w` characters of a equal the FIRST `w` characters of b — the
    * crawl-reconstruction signal for documents that are consecutive
    * pages/chunks of one source (paginated articles, log rotations,
    * chunked uploads) and should be stitched or deduped as one unit.
    * Exact-overlap boundary detection is the cheap first pass; fuzzy
    * boundary drift belongs to [[dedupSpans]]/winnowing.
    *
    * Emits `(id_a, id_b, boundary)` with boundary = the shared w-char
    * string; self-pairs excluded, both orientations possible by
    * construction (a's tail meeting b's head is directional). Documents
    * shorter than `w` characters have no usable boundary and are
    * dropped from both sides (an under-w doc cannot evidence a page
    * boundary).
    *
    * Shape at 100 TB: two zero-shuffle projections (head key, tail key)
    * and ONE equi-join hash-partitioned on the w-char boundary key —
    * ids + w chars on the wire, never document bodies. Degenerate hot
    * boundaries (a crawl full of identical page headers) are the skew
    * point: AQE splits the probe side, and the boundary string rides
    * the output for exactly that audit.
    */
  def stitchCandidates(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      w: Int
  ): DataFrame = {
    require(w >= 8, s"boundary width must be >= 8 chars (shorter keys are noise), got $w")
    val rows = df
      .filter(textCol.isNotNull && length(textCol) >= w)
      .select(idCol.as("id"), textCol.as("s"))
    val tails = rows.select(
      col("id").as("id_a"),
      col("s").substr(length(col("s")) - (w - 1), lit(w)).as("boundary")
    )
    val heads = rows.select(col("id").as("id_b"), col("s").substr(lit(1), lit(w)).as("__hk"))
    tails
      .join(heads, col("boundary") === col("__hk"))
      .where(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"), col("boundary"))
  }
}
