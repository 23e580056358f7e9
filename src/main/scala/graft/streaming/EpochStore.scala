package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{LongType, StructType}

/** The epoch-partitioned parquet store every streaming mirror keeps its
  * accepted state in ([[StreamDedup]] digests, [[StreamAsOf]]
  * observations, [[StreamLinkage]] keys, [[StreamSemanticGate]] vectors,
  * [[StreamMediaDedup]] fingerprints): one directory per micro-batch,
  * `<store>/epoch=<n>/part-*.parquet`.
  *
  * The replay contract, stated once for all of them — exactly-once on the
  * STORE, at-least-once on delivery. Spark replays a failed micro-batch
  * under the SAME epoch id (the documented `foreachBatch` contract). A
  * mirror reads [[prior]] (only the epochs BEFORE its own), [[write]]s its
  * epoch as an overwrite, and only then delivers. So:
  *
  *   - a crash between the store write and the delivery replays the epoch
  *     against the same prior state and re-derives the same rows — the
  *     epoch's first attempt is never read back;
  *   - a restart from an older checkpoint replays epochs the store already
  *     holds LATER partitions for; those abandoned epochs are never read,
  *     and each is overwritten when its epoch id comes round again.
  *
  * Delivery follows the usual `foreachBatch` semantics: make the sink
  * idempotent on `epoch` for end-to-end exactly-once. A frame a mirror
  * reads more than once within its epoch is held with
  * [[org.apache.spark.sql.graftbridge.Bridge.cacheRows]], never
  * `Dataset.persist` or a [[graft.runtime.GraftCheckpoint]] pin, so an
  * epoch leaves nothing in the session's `CacheManager` and releases its
  * cache even when delivery throws. The only RDDs an epoch leaves are the
  * local checkpoints of [[StreamLinkage]]'s connected-components rounds,
  * which cut lineage.
  *
  * An epoch whose rows are already on the driver is written by
  * [[writeRows]] with no Spark job: one file into the hidden
  * `<store>/_attempt-epoch-<n>` directory, which then replaces
  * `epoch=<n>` by rename. Its name starts with `_` and holds no `=`, so
  * Spark's file listing skips it: [[prior]] never reads a partial
  * attempt, and the next write of the epoch removes what a crash before
  * the rename left (a replay decides on the same batch, so it writes the
  * same way).
  *
  * The store is read with the schema it is written with, so a read costs
  * no schema-inference job; partition pruning on the `epoch` directory
  * column skips the later epochs without opening them.
  */
object EpochStore {

  /** The directory epoch `epoch` of `store` is written to. */
  def dir(store: String, epoch: Long): String = s"$store/epoch=$epoch"

  /** Write `df` as epoch `epoch` of `store`, replacing any earlier
    * attempt at the same epoch.
    */
  def write(df: DataFrame, store: String, epoch: Long): Unit =
    df.write.mode("overwrite").parquet(dir(store, epoch))

  /** Write `rows` (Catalyst-internal rows of `schema`) as epoch `epoch`
    * of `store` from the calling thread, with no Spark job, replacing any
    * earlier attempt at the same epoch: one parquet file through Spark's
    * parquet writer (`options` as `DataFrameWriter.option`s) into the
    * epoch's attempt directory, renamed onto the epoch's directory. No
    * rows write a file with the schema and no rows.
    */
  def writeRows(
      spark: SparkSession,
      rows: Iterator[InternalRow],
      schema: StructType,
      store: String,
      epoch: Long,
      options: Map[String, String]
  ): Unit = {
    val (attempt, target) = (attemptDir(store, epoch), new Path(dir(store, epoch)))
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(attempt, true)
    Bridge.writeParquetFile(spark, rows, schema, attempt.toString, options)
    fs.delete(target, true)
    if (!fs.rename(attempt, target)) throw new java.io.IOException(s"could not rename $attempt to $target")
  }

  /** The hidden directory [[writeRows]] writes epoch `epoch` of `store`
    * into before renaming it.
    */
  private[graft] def attemptDir(store: String, epoch: Long): Path = new Path(store, s"_attempt-epoch-$epoch")

  /** The rows of `store`'s epochs before `epoch`, read as `schema` (the
    * columns the epochs are written with, without `epoch`). A missing
    * store, or one with no data files, reads as empty.
    */
  def prior(spark: SparkSession, store: String, schema: StructType, epoch: Long): DataFrame = {
    val path = new Path(store)
    if (path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path))
      spark.read
        .schema(schema.add("epoch", LongType))
        .option("basePath", store)
        .parquet(store)
        .filter(col("epoch") < epoch)
        .drop("epoch")
    else spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
  }
}
