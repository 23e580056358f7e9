package graftbench

import java.io.{File, FileInputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark JVM. `perfbench/run.py` generates the inputs, starts this main
  * with a job file, and checks what it writes:
  *
  * {{{
  * graftbench.Main <job.properties>
  * }}}
  *
  * The job file names the workload (`catalog`, `feature-store`,
  * `tcp-service`), the seed, the amount of work, the trace switch and the
  * work directory. Every workload writes `result.json` into the work
  * directory: its end-to-end metrics, its per-layer metrics when traced, and
  * its own output checks. With tracing on it also writes `spans.jsonl`.
  */
object Main {

  /** Wall-clock microseconds, comparable with the generator's and run.py's
    * clocks (same host).
    */
  def wallMicros(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  final class Job(p: java.util.Properties) {
    def str(k: String): String =
      Option(p.getProperty(k)).getOrElse(throw new IllegalArgumentException(s"job file lacks '$k'"))
    def int(k: String): Int = str(k).trim.toInt
    def long(k: String): Long = str(k).trim.toLong
    def list(k: String): Seq[String] = str(k).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    def workload: String = str("workload")
    def seed: Long = long("seed")
    def trace: Boolean = str("trace") == "1"
    def work: String = str("work")
    /** run.py's wall clock (µs) just before it started this JVM. */
    def spawnMicros: Long = long("spawn_us")
  }

  def session(cpus: Int): SparkSession = {
    val b = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    graft.sources.Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: graftbench.Main <job.properties>")
    val props = new java.util.Properties()
    val in = new FileInputStream(args(0))
    try props.load(in) finally in.close()
    val job = new Job(props)
    Files.createDirectories(Paths.get(job.work))
    val spark = session(job.int("cpus"))
    val tracer = new Trace(spark, job.trace)
    val result =
      try job.workload match {
        case "catalog"       => Catalog.run(spark, job, tracer)
        case "feature-store" => FeatureStore.run(spark, job, tracer)
        case "tcp-service"   => TcpService.run(spark, job, tracer)
        case other           => throw new IllegalArgumentException(s"unknown workload '$other'")
      } finally tracer.close()
    if (job.trace) {
      tracer.writeSpans(new File(job.work, "spans.jsonl"))
      result.extra("self_s") =
        tracer.selfTimes().map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString("{", ",", "}")
      result.layer ++= ProcStats.metrics()
    }
    Files.write(Paths.get(job.work, "result.json"), result.json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** What one workload run reports back to run.py. `e2e` and `layer` are
  * metric name -> value; `checks` lists output checks as (name, ok, detail).
  */
final class Result {
  var attempted = 0L
  var failed = 0L
  val e2e = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val extra = scala.collection.mutable.LinkedHashMap.empty[String, String]
  val checks = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean, String)]

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += ((name, ok, if (ok) "" else detail))
  }

  def json: String = {
    def m(x: collection.Map[String, Double]) =
      x.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString("{", ",", "}")
    val cs = checks
      .map { case (n, ok, d) => s"""{"name":${Json.str(n)},"ok":$ok,"detail":${Json.str(d)}}""" }
      .mkString("[", ",", "]")
    val ex = extra.map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}")
    s"""{"attempted":$attempted,"failed":$failed,"e2e":${m(e2e)},"layer":${m(layer)},"checks":$cs,"extra":$ex}"""
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}

object Stats {
  /** Linear-interpolated percentile (q in [0, 1]) of unsorted values. */
  def pct(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 0.5)

  /** Total size of the regular files under `path`, in MB (0 if absent). */
  def dirMb(path: String): Double = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0.0
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() / (1024.0 * 1024.0)
      finally s.close()
    }
  }
}

/** Process CPU and peak RSS from /proc (Linux), for the traced run. */
object ProcStats {
  def metrics(): Seq[(String, Double)] = {
    val s = graft.streaming.ProcessStats.refresh()
    val hwmMb =
      try {
        val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
        line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(s.rssMb)
      } catch { case _: Throwable => s.rssMb }
    Seq("proc.cpu_s" -> (s.userTimeSec + s.sysTimeSec), "proc.rss_peak_mb" -> hwmMb)
  }
}
