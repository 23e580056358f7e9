package org.apache.spark.sql.graftbridge

import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.Platform

/** Expression <-> Column bridge. Spark 4 made the Catalyst constructor of
  * `Column` private[sql] (columns now wrap `ColumnNode`s); extension
  * libraries that define native Catalyst expressions bridge through the
  * classic converter, which requires living under the org.apache.spark.sql
  * package — the established pattern for Spark-native extension libraries.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a logical plan as a DataFrame (`Dataset.ofRows` is
    * private[sql]) — the injection point for custom logical operators
    * (e.g. the native as-of join node).
    */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  ): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      plan
    )

  /** Run `f` with SQL conf `key` set to `value` for the CALLING THREAD
    * only: a clone of the session's conf becomes this thread's
    * `SQLConf.get` (which consults the thread's existing conf before the
    * active session's), so planning on this thread sees `value` while
    * every other thread — and `spark.conf` — keeps the session's setting.
    * Threads started inside `f` and executor tasks do not inherit it.
    */
  def withThreadConf[T](spark: org.apache.spark.sql.SparkSession, key: String, value: String)(f: => T): T = {
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf.clone()
    conf.setConfString(key, value)
    org.apache.spark.sql.internal.SQLConf.withExistingConf(conf)(f)
  }

  /** The analyzed logical plan of a DataFrame (`queryExecution` is
    * classic-API surface in Spark 4).
    */
  def analyzed(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution
      .analyzed

  private def classic(df: DataFrame): org.apache.spark.sql.classic.Dataset[Row] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]

  /** A row cache's partitions are held as packed arrays of about this
    * many bytes each.
    */
  private val CacheChunkBytes = 1 << 20

  /** Lend `f` a frame over `df`'s rows cached as binary rows, and release
    * the cache when `f` returns or throws. Each partition's `UnsafeRow`
    * bytes are packed into arrays of about 1 MB ([[packRows]]) in an RDD
    * persisted MEMORY_AND_DISK, and read back as rows pointing into those
    * arrays. Unlike `Dataset.persist()` the rows are not re-encoded as
    * compressed column batches; unlike a cache of row objects, storing a
    * partition costs no per-row allocation and no per-row size estimate.
    * The cache never enters the session's `CacheManager`, so no other
    * query of the session can match it, and nothing of it outlives `f`.
    * The first job that reads the frame fills the cache; lineage stays,
    * so a lost block is recomputed rather than failing the job.
    *
    * The frame is a `LogicalRDD` whose size estimate is `df`'s optimized
    * plan's `sizeInBytes`, the estimate an unfilled `InMemoryRelation`
    * reports, so joins over it plan as they do over a persisted frame
    * (without it the size would be `spark.sql.defaultSizeInBytes`, and a
    * small side would never broadcast). Only the size is carried: origin
    * constraints can name attributes absent from the output, which crashes
    * a later union over the frame (see
    * [[graft.runtime.GraftCheckpoint.pin]]).
    */
  def cacheRows[T](df: DataFrame)(f: DataFrame => T): T = {
    val qe = classic(df).queryExecution
    val schema = df.schema
    val chunks = qe.toRdd
      .mapPartitions(rows => Iterator.continually(rows).takeWhile(_.hasNext).map(packRows(_, schema, CacheChunkBytes)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val stats = Statistics(sizeInBytes = qe.optimizedPlan.stats.sizeInBytes)
      val plan = LogicalRDD(DataTypeUtils.toAttributes(schema), chunks.flatMap(unpackRows(_, schema.length)))(
        qe.sparkSession, Some(stats), None)
      f(ofRows(df.sparkSession, plan))
    } finally {
      chunks.unpersist(blocking = false)
      ()
    }
  }

  /** The Catalyst-internal rows of `df`, as its physical plan produces
    * them (no conversion to external `Row`s). Not an action.
    */
  def internalRows(df: DataFrame): RDD[InternalRow] = classic(df).queryExecution.toRdd

  /** Collect `df` as Catalyst-internal rows: `collect()` without the
    * per-row conversion to external values, reported to the session's
    * listeners as a `collect` query.
    */
  def collectInternal(df: DataFrame): Array[InternalRow] = {
    val qe = classic(df).queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
  }

  /** Write `rows` (Catalyst-internal rows of `schema`) as ONE parquet
    * file in directory `dir`, from the calling thread: no Spark job, no
    * output committer. The file goes through Spark's own parquet writer
    * (`ParquetFileFormat.prepareWrite` and its output writer) with the
    * session's codec and parquet settings, `options` on top as
    * `DataFrameWriter.option`s. The path is `dir`'s file system's, so
    * HDFS and object stores work as for any parquet write.
    */
  def writeParquetFile(
      spark: SparkSession,
      rows: Iterator[InternalRow],
      schema: StructType,
      dir: String,
      options: Map[String, String]
  ): Unit = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val job = org.apache.hadoop.mapreduce.Job.getInstance(session.sessionState.newHadoopConfWithOptions(options))
    val factory = new ParquetFileFormat().prepareWrite(session, job, options, schema)
    val context = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val file = s"$dir/part-00000-${java.util.UUID.randomUUID()}${factory.getFileExtension(context)}"
    val writer = factory.newInstance(file, schema, context)
    try rows.foreach(writer.write)
    finally writer.close()
  }

  /** Pack `rows` (of `schema`) into one byte array: each row's length,
    * then its `UnsafeRow` bytes. [[unpackRows]] reads it back without
    * copying a row. Stops taking rows once the array holds `maxBytes`, so
    * the rest of `rows` can go into the next one.
    */
  def packRows(rows: Iterator[InternalRow], schema: StructType, maxBytes: Int = Int.MaxValue): Array[Byte] = {
    val bytes = new java.io.ByteArrayOutputStream(maxBytes.min(1 << 16))
    val out = new java.io.DataOutputStream(bytes)
    val buffer = new Array[Byte](4096)
    lazy val toUnsafe = UnsafeProjection.create(schema)
    while (bytes.size < maxBytes && rows.hasNext) {
      val u = rows.next() match {
        case u: UnsafeRow => u
        case other        => toUnsafe(other)
      }
      out.writeInt(u.getSizeInBytes)
      u.writeToStream(out, buffer)
    }
    out.flush()
    bytes.toByteArray
  }

  /** The rows of a [[packRows]] array, each an `UnsafeRow` of `numFields`
    * pointing into `bytes`.
    */
  def unpackRows(bytes: Array[Byte], numFields: Int): Iterator[InternalRow] = new Iterator[InternalRow] {
    private val lengths = java.nio.ByteBuffer.wrap(bytes)
    private var pos = 0
    def hasNext: Boolean = pos < bytes.length
    def next(): InternalRow = {
      val size = lengths.getInt(pos)
      val row = new UnsafeRow(numFields)
      row.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + pos + 4L, size)
      pos += 4 + size
      row
    }
  }
}
