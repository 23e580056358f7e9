package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** [[Tables.load]] reads a table's schema from its parquet footer on the
  * driver: no Spark job per table read, and exactly the schema Spark's own
  * (job-firing) inference reads, for the testdata tables, a
  * TIMESTAMP(NANOS) file and a multi-file directory table that is
  * rewritten with other columns.
  */
class TablesSpec extends graft.SparkTestBase {

  private def inferred(path: String): DataFrame = spark.read.parquet(path)

  /** The `ts` Long→timestamp rebuild [[Tables.load]] applies. */
  private def rebuilt(df: DataFrame): DataFrame =
    if (df.schema.exists(f => f.name == "ts" && f.dataType == LongType))
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df

  private def loadsLikeInference(dir: String, name: String): Unit = {
    val path = s"$dir/$name.parquet"
    assert(jobsOf { Tables.load(spark, dir, name); () } == 0, s"$path: Tables.load fired a job")
    val want = inferred(path).schema
    // the relation makes every data column nullable on both paths
    val footer = Tables.footerSchema(spark, path)
    assert(footer.map(f => f.name -> f.dataType) == want.map(f => f.name -> f.dataType), s"$path: footer schema")
    assert(spark.read.schema(footer).parquet(path).schema == want, s"$path: read schema")
    assert(Tables.load(spark, dir, name).schema == rebuilt(inferred(path)).schema, s"$path: loaded schema")
  }

  test("every testdata table loads with no Spark job and Spark's inferred schema, at sf0.001 and sf0.01") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01"); name <- Tables.names)
      loadsLikeInference(dir, name)
  }

  test("a TIMESTAMP(NANOS) ts column loads as µs TimestampType with the inferring read's values") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables-nanos").toString
    val path = s"$dir/nanos.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int64 id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(path), spark.sessionState.newHadoopConf()))
      .withType(schema)
      .build()
    val rows = new SimpleGroupFactory(schema)
    val nanos = Seq(0L, 1L, 999L, 1700000000123456789L, 1700000000999999999L)
    try nanos.zipWithIndex.foreach { case (ns, i) => w.write(rows.newGroup().append("id", i.toLong).append("ts", ns)) }
    finally w.close()

    assert(inferred(path).schema("ts").dataType == LongType) // nanosAsLong
    loadsLikeInference(dir, "nanos")
    val got = Tables.load(spark, dir, "nanos")
    assert(got.schema("ts").dataType == TimestampType)
    val micros = got.orderBy("id").select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
    assert(micros == nanos.map(_ / 1000))
    assert(got.orderBy("id").collect().toSeq == rebuilt(inferred(path)).orderBy("id").collect().toSeq)
  }

  test("a Spark-written directory table: 4 part files and _SUCCESS, then rewritten with other columns") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables-dir").toString
    val path = s"$dir/parts.parquet"
    spark.range(0, 40, 1, 4).selectExpr("id", "cast(id as string) as s")
      .write.mode("overwrite").parquet(path)
    val names = new java.io.File(path).list().toSeq
    assert(names.count(_.startsWith("part-")) == 4 && names.contains("_SUCCESS"), names)
    loadsLikeInference(dir, "parts")

    spark.range(0, 10, 1, 4).selectExpr("id * 2 as k", "id > 3 as flag", "cast(id as double) / 4 as d")
      .write.mode("overwrite").parquet(path)
    loadsLikeInference(dir, "parts")
    val got = Tables.load(spark, dir, "parts")
    assert(got.columns.toSeq == Seq("k", "flag", "d"))
    assert(got.orderBy("k").collect().toSeq == inferred(path).orderBy("k").collect().toSeq)
  }
}
