package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Parquet table loader for the driver testdata.
  *
  * The `events` table has carried two timestamp encodings across testdata
  * generations: TIMESTAMP(NANOS) (unsupported natively, SPARK-40819 —
  * `spark.sql.legacy.parquet.nanosAsLong=true` + the Long rebuild below)
  * and TIMESTAMP(MICROS, isAdjustedToUTC=false) (would infer as
  * TIMESTAMP_NTZ — `spark.sql.parquet.inferTimestampNTZ.enabled=false`
  * reads it as TimestampType under the UTC session zone). Sessions must
  * apply [[sessionConfigs]]; both paths yield identical µs TimestampType.
  *
  * A table read fires no Spark job. `spark.read.parquet(path)` without a
  * schema infers one inside a one-task Spark job, so every query would pay
  * a job round trip per table before it could plan. With
  * `spark.sql.parquet.mergeSchema` false, that job reads a single data
  * file's footer; [[footerSchema]] reads the same footer on the driver and
  * converts it by Spark's own per-footer rule, and [[load]] reads the table
  * with that schema. This assumes `mergeSchema` stays false: no session in
  * this repo sets it, and a table whose files disagree on their columns
  * would need Spark's merging read instead. Nothing is cached: each load
  * reads the footer again (about 1 ms), so a rewritten table is always
  * read fresh.
  * At scale (HDFS, S3) Spark's job would read this same footer; here it is
  * one ranged read from the driver, and stopping at the first data file
  * keeps a large directory to one listing page.
  */
object Tables {

  /** Configs every engine session should set (Verify/Bench/tests do). */
  val sessionConfigs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    "spark.sql.session.timeZone" -> "UTC",
    // The testdata's `events.ts` is TIMESTAMP(isAdjustedToUTC=false):
    // Spark 4 would infer TIMESTAMP_NTZ, which unix_millis/window reject.
    // Reading it as TimestampType under the UTC session zone gives the
    // same wall-clock instants DuckDB's naive read sees.
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    // Sorter/aggregation page size. The default is min(64 MB, heap-derived):
    // on a multi-GB local[32] driver every sort task allocates (and zeroes)
    // a 64 MB heap page — G1 treats those as humongous allocations, and 32
    // concurrent tasks turn small sorts into an allocation/GC storm
    // (measured: the connected-components stress spent 80%+ of wall in
    // TaskMemoryManager.allocatePage; 4 MB pages cut round time 5-10x with
    // identical plans). 4 MB still holds ~260k sort records per page, far
    // above what a 32-1024-partition local shuffle sees per task.
    "spark.buffer.pageSize" -> "4m"
  )

  /** On-disk size of one table (0 when unknown) — the input-size signal
    * behind [[loadFanned]]'s scale-adaptive fan-out decision.
    */
  def tableBytes(dir: String, name: String): Long =
    try {
      val f = new java.io.File(new java.io.File(dir), s"$name.parquet")
      if (f.isFile) f.length()
      else if (f.isDirectory) {
        // recursive: a partitioned/nested parquet directory's top-level
        // entries are subdirectories whose File.length() is the dirent
        // size — a non-recursive sum undercounts a big table below the
        // fan-out gate and would add a pointless full shuffle (r16
        // ADVICE). Files.walk sums regular files at any depth.
        val s = java.nio.file.Files.walk(f.toPath)
        try s.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally s.close()
      } else 0L
    } catch { case NonFatal(_) => 0L }

  /** [[load]] plus a SIZE-GATED round-robin fan-out, for pipelines whose
    * first stage does heavy per-row CPU work (shingling + MinHash, media
    * decode/probe, edit-distance segment explode, dense cosine kernels).
    *
    * Why (guide §2, scale-adaptive partitioning): scan parallelism is
    * bounded by parquet ROW GROUPS, not by split arithmetic — this
    * corpus's tables are single-row-group files, so every scan-rooted
    * stage runs as ONE task while the other cores idle (measured: x6's
    * shingle+hash stage = 1 task, 1.4 s of a 2.5 s query; x187's decode
    * pass = 1 task, 0.5 s). A keyless repartition to the session's
    * default parallelism costs one exchange of the (small by the gate's
    * construction) raw rows and parallelizes everything downstream.
    *
    * The gate derives from input size and core count, never a local[32]
    * constant: fan out only when the table is smaller than cores x 4 MB
    * (4 MB = Spark's stock `files.openCostInBytes` split floor, i.e.
    * exactly the regime where the scan CANNOT reach `cores` splits by
    * itself). At cluster scale the same table is orders of magnitude past
    * the gate and the code is the identity — no shuffle is ever added to
    * a corpus that already scans wide.
    */
  def loadFanned(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = load(spark, dir, name)
    val cores = spark.sparkContext.defaultParallelism
    val bytes = tableBytes(dir, name)
    if (bytes > 0L && bytes < cores.toLong * (4L << 20)) df.repartition(cores)
    else df
  }

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings"
  )

  /** Register every table as a temp view so `spark.sql` reaches the whole
    * schema (the catalog convenience the reference never had).
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** The schema Spark infers for the parquet table at `path` when
    * `mergeSchema` is false: one data file's footer (the file itself, or
    * the first file under the directory whose name starts with neither `_`
    * nor `.`, as Spark's file index skips them), converted under the
    * session's parquet confs (`nanosAsLong`, `inferTimestampNTZ`, ...),
    * the Spark row-metadata key winning when the file carries one.
    */
  private[sources] def footerSchema(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val fs = p.getFileSystem(conf)
    val file = firstDataFile(fs, fs.getFileStatus(p)).getOrElse(
      throw new java.io.FileNotFoundException(s"no parquet data file under $path"))
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath, footer), new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  private def firstDataFile(fs: FileSystem, st: FileStatus): Option[FileStatus] =
    if (st.isFile) Some(st)
    else {
      val it = fs.listStatusIterator(st.getPath)
      var found = Option.empty[FileStatus]
      while (found.isEmpty && it.hasNext) {
        val c = it.next()
        val n = c.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) found = firstDataFile(fs, c)
      }
      found
    }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = spark.read.schema(footerSchema(spark, path)).parquet(path)
    if (df.schema.exists(f => f.name == "ts" && f.dataType == LongType))
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }
}
