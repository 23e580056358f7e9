package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed connected components over a pair/edge relation — the cluster
  * step of fuzzy deduplication: near-dup PAIRS (from MinHash/SimHash/
  * n-gram-Jaccard candidate generators) become duplicate CLUSTERS, and one
  * representative per cluster survives. The reference has no query engine,
  * so this is part of the beyond-reference LLM-pipeline surface (builder
  * prompt); the dedup recipe itself (pairs → components → keep min id) is
  * the standard web-corpus pipeline shape.
  *
  * Algorithm: the alternating large-star/small-star method of Kiveris et
  * al., "Connected Components in MapReduce and Beyond" (SoCC'14) — the same
  * algorithm GraphFrames ships for Spark. Each round is two rounds of
  * (groupBy-min + equi-join + distinct); no step ever materializes a
  * neighborhood as an array, so a hub node of any degree streams through
  * partial aggregation. Convergence is O(log² n) rounds on adversarial
  * graphs and 2–3 rounds on real dedup graphs (near-clique components).
  *
  * 100 TB design notes:
  *   - per-round state is the edge list itself (8+8 bytes a row after
  *     dedup), hash-partitioned on the grouping node — the same layout the
  *     LSH candidate generators already emit, so no re-shuffle on entry;
  *   - `groupBy.min` is a partial aggregation (map-side combine), so
  *     skewed stars cost one combiner pass, not a reducer hot spot;
  *   - the driver sees only a per-round (count, checksum) scalar for the
  *     convergence test — no `.collect()` of graph data ever;
  *   - each round is eagerly pinned via [[graft.runtime.GraftCheckpoint]],
  *     truncating lineage so plan size, optimizer time, and retry cost stay
  *     O(1) per round instead of compounding; set
  *     `spark.graft.checkpointDir` to an HDFS/S3 path and every pin
  *     becomes a RELIABLE checkpoint (executor-loss tolerant) with the
  *     round structure unchanged.
  */
object ConnectedComponents {

  private def isIntegral(t: org.apache.spark.sql.types.DataType): Boolean = t match {
    case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
        org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType =>
      true
    case _ => false
  }

  /** One large-star round: every node u links its LARGER neighbors to the
    * minimum of its closed neighborhood m = min(N(u) ∪ {u}). Keeps all
    * connectivity (Kiveris et al. lemma 1) while halving long chains.
    */
  private[graft] def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val mins = sym
      .groupBy(col("src"))
      .agg(min(col("dst")).as("mn"))
      .select(col("src"), least(col("mn"), col("src")).as("m"))
    // no distinct here: every consumer (smallStar's orientation, the
    // fixpoint projection) dedups immediately after — a distinct on this
    // intermediate would be a redundant full shuffle per round.
    // The dst > src filter is applied BEFORE the join (it only involves
    // probe-side columns): each undirected edge then crosses the join
    // exchange once instead of twice — half the shuffled bytes of the
    // round's biggest exchange, same output rows (guide §2.3).
    sym
      .where(col("dst") > col("src"))
      .join(mins, "src")
      .select(col("dst").as("src"), col("m").as("dst"))
  }

  /** One small-star round: orient every edge (larger, smaller); every node
    * u re-links its (all smaller) neighbors and itself to their minimum.
    */
  private[graft] def smallStar(edges: DataFrame): DataFrame = {
    val dir = edges
      .select(
        greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst")
      )
      .where(col("src") =!= col("dst"))
      .distinct()
    val mins = dir.groupBy(col("src")).agg(min(col("dst")).as("m"))
    val relink = dir
      .join(mins, "src")
      .where(col("dst") =!= col("m"))
      .select(col("dst").as("src"), col("m").as("dst"))
    relink.union(mins.select(col("src"), col("m").as("dst"))).distinct()
  }

  /** Convergence probe: is the edge set a (member → root)-oriented star
    * forest? That is the alternating iteration's UNIQUE fixpoint (Kiveris
    * et al. §3: the rounds converge to stars rooted at each component's
    * minimum), characterised by three per-node conditions:
    *
    *   1. every edge points strictly downward (dst < src),
    *   2. no node is both a member (src) and a root (dst),
    *   3. every member has exactly one distinct root.
    *
    * If they hold, one more largeStar∘smallStar round is the identity
    * (verified algebraically: largeStar re-emits (member, root) verbatim
    * since each root is its own closed-neighborhood min, and smallStar's
    * relink set is empty), so stopping HERE returns bit-identical results
    * to the previous signature-equality probe — one full round earlier.
    * The old probe could only detect the fixpoint by paying a complete
    * identity round (5-6 exchanges) to see the signature repeat; this is
    * one groupBy over the pinned round output (ids only), and it also
    * fires on inputs that ARRIVE as stars (digest-edge dedup graphs),
    * skipping the rounds entirely. Conditions 1-3 also imply every root
    * is its component's minimum (a root undercuts all its members and
    * stars are maximal), the representative contract [[run]] documents.
    */
  private def isStarForest(edges: DataFrame): Boolean = {
    val roles = edges
      .select(
        explode(
          array(
            struct(col("src").as("n"), col("dst").as("peer"), lit(true).as("as_src")),
            struct(col("dst").as("n"), col("src").as("peer"), lit(false).as("as_src"))
          )
        ).as("x")
      )
      .select(col("x.n").as("n"), col("x.peer").as("peer"), col("x.as_src").as("as_src"))
    val r = roles
      .groupBy(col("n"))
      .agg(
        max(when(col("as_src"), 1).otherwise(0)).as("is_src"),
        max(when(!col("as_src"), 1).otherwise(0)).as("is_dst"),
        // "exactly one distinct root" as min==max — single-phase partial
        // aggregation, unlike count_distinct's Expand two-phase shape
        min(when(col("as_src"), col("peer"))).as("root_lo"),
        max(when(col("as_src"), col("peer"))).as("root_hi"),
        max(when(col("as_src") && col("peer") >= col("n"), 1).otherwise(0)).as("bad_orient")
      )
      .agg(
        max(col("is_src") * col("is_dst")).as("overlap"),
        max(when(!(col("root_lo") <=> col("root_hi")), 1).otherwise(0)).as("multi_root"),
        max(col("bad_orient")).as("bad")
      )
      .head()
    r.getInt(0) == 0 && r.getInt(1) == 0 && r.getInt(2) == 0
  }

  /** Connected components of the undirected graph given by `pairs`
    * (columns `idA`, `idB`; integral ids run as longs, any other shared
    * orderable type — string URLs/UUIDs — runs natively). Returns one row
    * per node that
    * appears in any NON-self-loop pair: (id, component) where component is
    * the SMALLEST id in the node's component (so `id === component` marks
    * the canonical representative). Self-loops are dropped up front, so a
    * node appearing ONLY as (x, x) gets no row — it is a singleton, and
    * singletons (whether absent from `pairs` or self-loop-only) are the
    * caller's to append — see [[assignClusters]], whose coalesce handles
    * both cases identically.
    */
  def run(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxRounds: Int = 50
  ): DataFrame = runWithRounds(pairs, idA, idB, maxRounds)._1

  /** [[run]] plus the number of alternating rounds it took to converge —
    * the scale-evidence hook (rounds should stay O(log diameter), not
    * O(diameter)).
    */
  def runWithRounds(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxRounds: Int = 50
  ): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    // id typing: integral ids normalize to long (the 8-byte-key wire
    // discipline); any other orderable type (string URLs/UUIDs, the
    // common web-corpus key) runs NATIVELY — the alternating-star rounds
    // only need ordering + equality, which Spark's min/least/greatest
    // give every atomic type. Mixed-type edges are rejected up front
    // rather than silently coerced.
    val aType = pairs.schema(idA).dataType
    val bType = pairs.schema(idB).dataType
    val bothIntegral = isIntegral(aType) && isIntegral(bType)
    require(
      bothIntegral || aType == bType,
      s"pair id columns must both be integral or share one type, got $aType / $bType"
    )
    val (srcIn, dstIn) =
      if (bothIntegral) (col(idA).cast("long"), col(idB).cast("long"))
      else (col(idA), col(idB))
    // localCheckpoint (eager) after every round: iterative self-unions
    // grow the LOGICAL plan exponentially, and Catalyst re-optimizes the
    // whole accumulated tree each round — checkpointing truncates lineage
    // so round N plans over round N-1's materialized blocks, keeping both
    // optimizer time and retry cost O(1) per round.
    var edges = pairs
      .select(srcIn.as("src"), dstIn.as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .transform(graft.runtime.GraftCheckpoint.pin)
    if (edges.isEmpty)
      return (
        pairs.limit(0).select(srcIn.as("id"), srcIn.as("component")),
        0
      )
    var rounds = 0
    // the star-forest probe fires BEFORE the first round too: dedup edge
    // generators that already emit (member → root) stars (digest-edge
    // exact-dup graphs) skip the alternating rounds entirely
    var converged = isStarForest(edges)
    while (!converged && rounds < maxRounds) {
      edges = smallStar(largeStar(edges)).transform(graft.runtime.GraftCheckpoint.pin)
      converged = isStarForest(edges)
      rounds += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxRounds rounds"
      )
    // fixpoint edges form stars (member → root); roots map to themselves
    val result = edges
      .select(col("src").as("id"), col("dst").as("component"))
      .union(edges.select(col("dst").as("id"), col("dst").as("component")))
      .distinct()
    (result, rounds)
  }

  /** [[assignClusters]] with a QUALITY-aware representative: the kept doc
    * per cluster is the highest-`quality` member (smallest id on ties —
    * fully deterministic). This is the policy real curation pipelines
    * want: min-id keeps an arbitrary crawl, keep-best keeps the longest /
    * cleanest / highest-scoring copy (pass any per-doc score column:
    * length, tokenEntropy, a classifier margin).
    *
    * Returns (doc_id, component, n_members, quality, keep). Scale shape:
    * the winner is a `min_by` AGGREGATE over struct(-quality, doc_id) —
    * map-side partial, one (component)-keyed exchange, no window sort;
    * the result join is component-keyed like [[assignClusters]]'s size
    * join, so no new shuffle key appears.
    */
  def assignClustersKeepBest(
      df: DataFrame,
      idCol: Column,
      quality: Column,
      pairs: DataFrame
  ): DataFrame = {
    val assigned = graft.runtime.GraftCheckpoint.pin(
      componentsFor(df, idCol, pairs, Seq("quality" -> quality.cast("double")))
    )
    // NULL quality must LOSE, not win: struct ordering sorts a null field
    // FIRST, so an un-coalesced -quality would hand every cluster with a
    // missing score to the null-quality member. +∞ sends nulls to the
    // back (ties then break by id), matching the oracle's NULLS LAST.
    val winners = assigned
      .groupBy(col("component"))
      .agg(
        count(lit(1)).as("n_members"),
        min_by(
          col("doc_id"),
          struct(
            coalesce(-col("quality"), lit(Double.PositiveInfinity)).as("nq"),
            col("doc_id")
          )
        ).as("__keep_id")
      )
    assigned
      .join(winners, Seq("component"))
      .select(
        col("doc_id"),
        col("component"),
        col("n_members"),
        col("quality"),
        (col("doc_id") === col("__keep_id")).as("keep")
      )
  }

  /** Cluster assignment for a document table: every row of `df` gets its
    * component id (its own id when it is in no pair — a singleton), the
    * component's member count, and `is_rep` marking the kept
    * representative (smallest id — deterministic under any partitioning).
    * This is the "pairs in, deduplicated corpus out" surface.
    */
  def assignClusters(df: DataFrame, idCol: Column, pairs: DataFrame): DataFrame = {
    val assigned = graft.runtime.GraftCheckpoint.pin(componentsFor(df, idCol, pairs, Nil))
    val sizes = assigned.groupBy(col("component")).agg(count(lit(1)).as("n_members"))
    assigned
      .join(sizes, Seq("component"))
      .select(
        col("doc_id"),
        col("component"),
        col("n_members"),
        (col("doc_id") === col("component")).as("is_rep")
      )
  }

  /** Leakage-safe train/val/test split: assign the split at the
    * NEAR-DUP-CLUSTER level, not the document level. A plain per-doc
    * [[CorpusOps.hashSplit]] puts two near-identical documents on
    * opposite sides of the train/test fence with probability
    * 2·p·(1−p) — at web-corpus duplicate rates that is systematic
    * eval contamination. Here every member of a connected component
    * inherits `md5(component)`'s bucket, so a whole near-dup cluster
    * lands on ONE side; singletons (component = own id) degrade to
    * exactly the per-doc split, keeping the two surfaces consistent.
    *
    * Scale shape: [[assignClusters]]'s iterative CC (O(log diameter)
    * bounded-key rounds) plus one pure per-row projection — the split
    * adds zero exchanges on top of the clustering it reuses.
    */
  def leakageSafeSplit(df: DataFrame, idCol: Column, pairs: DataFrame): DataFrame =
    assignClusters(df, idCol, pairs)
      .withColumn("split", CorpusOps.splitFor(col("component")))

  /** Shared head of the cluster-assignment surface: run CC on the pairs,
    * left-join every doc to its component, coalesce singletons to their
    * own id, carrying `extra` named columns through. One definition
    * serves [[assignClusters]] (min-id representative) and
    * [[assignClustersKeepBest]] (quality representative) so the
    * singleton/join shape cannot drift between the two policies.
    */
  private def componentsFor(
      df: DataFrame,
      idCol: Column,
      pairs: DataFrame,
      extra: Seq[(String, Column)]
  ): DataFrame = {
    val cc = run(pairs)
    // mirror run's id typing: integral doc ids normalize to long so the
    // component join keys agree; non-integral ids stay native
    val docId =
      if (isIntegral(df.select(idCol).schema.head.dataType)) idCol.cast("long")
      else idCol
    df.select(docId.as("doc_id") +: extra.map { case (n, c) => c.as(n) }: _*)
      .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
  }
}
