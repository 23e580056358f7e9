package graft.runtime

import org.apache.spark.sql.DataFrame

/** Lineage pinning for iterative operators (connected components, PageRank
  * / HITS, Bradley–Terry, BPE merges; under streaming only the connected
  * components of linkage pin): every round MUST truncate lineage or the
  * accumulated self-union plan grows exponentially and Catalyst
  * re-optimizes the whole tree each round.
  *
  * Two modes, switched by one session conf:
  *
  *   - default — `localCheckpoint(eager)`: blocks live in executor storage
  *     (memory/disk), zero external I/O. Correct and fastest on a healthy
  *     cluster and on `local[*]`, but lineage is TRUNCATED at the blocks,
  *     so losing an executor mid-iteration loses rounds that cannot be
  *     recomputed — the whole job dies.
  *   - reliable — set `spark.graft.checkpointDir` to an HDFS/S3/posix
  *     path and every pin becomes a RELIABLE `checkpoint(eager)`: round
  *     state is persisted to the shared directory, so executor loss costs
  *     a re-read, not the job. This is the cluster-grade mode for long
  *     iterative jobs at 100 TB (the per-round write is the edge/rank
  *     table — ids + fixed-width values, the smallest frame in the loop).
  *
  * The round structure of every caller is IDENTICAL in both modes (same
  * rounds, same results — spec-asserted); only the storage contract of
  * the per-round pin changes.
  */
object GraftCheckpoint {

  /** Session conf key: absent/empty → localCheckpoint; set to a directory
    * → reliable `checkpoint` into it.
    *
    * Directory hygiene in reliable mode: each pin writes one RDD's worth
    * of files under the dir and Spark removes them only when the RDD is
    * GC'd AND `spark.cleaner.referenceTracking.cleanCheckpoints=true`
    * (default false). Long iterative jobs should set that conf (rounds
    * become unreferenced as the loop advances) or point the dir at a
    * location with a TTL/lifecycle policy.
    */
  val ConfKey = "spark.graft.checkpointDir"

  /** Pin `df` eagerly, truncating lineage, in the configured mode.
    *
    * Constraint propagation is DISABLED for the duration of the pin:
    * Spark 4.1's `Dataset.checkpoint`/`localCheckpoint` freeze the
    * optimized plan's constraint set into the resulting `LogicalRDD` as
    * `originConstraints`, and an iterative round-N plan (self-unions +
    * alias-rewritten joins, the CC/PageRank shape) can carry constraint
    * expressions referencing attributes ABSENT from the new output;
    * `LogicalRDD.constraints` bypasses the usual output-subset filter,
    * so any later Union over the pinned frame crashes in
    * `UnionBase.rewriteConstraints` (`key not found: src#N`). Capturing
    * with propagation off stores no constraints at all — pure optimizer
    * metadata, results unaffected — and every downstream plan over the
    * pinned blocks stays well-formed. The switch is confined to the
    * pinning thread ([[org.apache.spark.sql.graftbridge.Bridge.withThreadConf]]):
    * the session conf is never written, so a query planned concurrently
    * on another thread (a sibling fan-out sink, say) keeps propagation on.
    */
  def pin(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftbridge.Bridge
      .withThreadConf(df.sparkSession, "spark.sql.constraintPropagation.enabled", "false")(pinInner(df))

  private def pinInner(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(ConfKey).map(_.trim).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        // setCheckpointDir resolves to a UUID subdirectory under `dir`;
        // only (re)set when the current resolved dir is not under it, so
        // repeated pins reuse one subdirectory instead of churning.
        // getCheckpointDir returns the FULLY-QUALIFIED resolved path
        // (e.g. file:/tmp/ck/<uuid>), so the containment test must
        // qualify `dir` the same way or a plain posix path never matches
        // and every pin would mkdirs a fresh sibling.
        val qualified = {
          val p = new org.apache.hadoop.fs.Path(dir)
          val fs = p.getFileSystem(sc.hadoopConfiguration)
          p.makeQualified(fs.getUri, fs.getWorkingDirectory).toString
        }
        if (!sc.getCheckpointDir.exists(_.startsWith(qualified))) sc.setCheckpointDir(dir)
        // persist before the reliable checkpoint: Dataset.checkpoint's
        // eager materialization and ReliableCheckpointRDD's file-write
        // job otherwise COMPUTE THE LINEAGE TWICE (the case
        // RDD.checkpoint's own doc warns to persist for) — at cluster
        // scale that doubles every round's exchange cost
        val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try cached.checkpoint(eager = true)
        finally {
          cached.unpersist()
          ()
        }
      case None => df.localCheckpoint(eager = true)
    }
  }
}
