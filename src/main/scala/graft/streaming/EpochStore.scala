package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
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
  * idempotent on `epoch` for end-to-end exactly-once.
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
