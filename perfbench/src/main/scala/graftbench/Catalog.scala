package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `catalog`: a closed loop with one client over the generated tables. It
  * runs two fixed query groups through `SparkEntry.queries`:
  *
  *   - `pinned`: the heavy queries whose construction fires eager
  *     `GraftCheckpoint.pin` jobs (and the iterative lineage-cut pins);
  *   - `floor`: a stratified sample of the short queries, dominated by
  *     planning and per-job fixed cost.
  *
  * Set-up ends with one untimed pass that writes every query's result as
  * parquet (run.py compares them with the DuckDB oracle). Each timed pass
  * then splits every query into construct (the query function, which runs
  * the eager pins), plan (the physical plan of `df.groupBy().count()`) and
  * exec (collecting that same plan, so the split adds no work). A timed
  * count that differs from the checked result's row count is a failure.
  * `latency_ms` and `tail_ms` are the fastest of the timed passes' `floor`
  * and `pinned` walls: a pass of short queries is easily hit by a burst of
  * load from outside, and the first x112 after the cold pass still warms.
  */
object Catalog {

  final case class Timing(group: String, pass: Int, query: String, construct: Double, plan: Double,
      exec: Double, span: Long) {
    def wall: Double = construct + plan + exec
  }

  def run(spark: SparkSession, job: Main.Job, tr: Trace): Result = {
    val res = new Result
    val dir = job.str("data")
    val rnd = new scala.util.Random(job.seed)
    val groups = Seq("pinned", "floor").map(g => g -> rnd.shuffle(job.list(s"group.$g")))
    val passes = job.int("passes")
    val queries = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val names = groups.flatMap(_._2)

    val oracleJson = names
      .map(n => Json.str(n) + ":" + oracle.get(n).map(Json.str).getOrElse("null"))
      .mkString("{", ",", "}")
    Files.write(Paths.get(job.work, "oracle.json"), oracleJson.getBytes(StandardCharsets.UTF_8))

    // untimed output pass: results to parquet for the oracle check, and the
    // row count every timed pass must reproduce
    val rows = mutable.Map.empty[String, Long]
    names.foreach { q =>
      res.attempted += 1
      try tr.span("queries.output", q) {
        val out = s"${job.work}/out/$q"
        queries(q)(spark, dir).write.mode("overwrite").parquet(out)
        rows(q) = spark.read.parquet(out).count()
      } catch {
        case e: Throwable =>
          res.failed += 1
          res.check(s"$q output", ok = false, e.toString.take(300))
      }
    }
    val setupS = (Main.wallMicros() - job.spawnMicros) / 1e6

    val timings = mutable.ArrayBuffer.empty[Timing]
    for (p <- 1 to passes; (g, qs) <- groups; q <- qs if rows.contains(q)) {
      res.attempted += 1
      try tr.span("queries.query", s"$g/$q/pass$p") {
        val t0 = System.nanoTime()
        val df = tr.span("queries.construct")(queries(q)(spark, dir))
        val t1 = System.nanoTime()
        val counted = df.groupBy().count()
        tr.span("queries.plan")(counted.queryExecution.executedPlan)
        val t2 = System.nanoTime()
        val n = tr.span("queries.exec")(counted.collect()(0).getLong(0))
        val t3 = System.nanoTime()
        timings += Timing(g, p, q, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, tr.current)
        if (n != rows(q)) {
          res.failed += 1
          res.check(s"$q pass $p count", ok = false, s"timed count $n, checked output ${rows(q)}")
        }
      } catch {
        case e: Throwable =>
          res.failed += 1
          res.check(s"$q pass $p", ok = false, e.toString.take(300))
      }
    }

    def passWall(g: String): Seq[Double] =
      (1 to passes).map(p => timings.filter(t => t.group == g && t.pass == p).map(_.wall).sum)
    res.e2e("setup_s") = setupS
    res.e2e("latency_ms") = passWall("floor").min * 1000.0
    res.e2e("tail_ms") = passWall("pinned").min * 1000.0
    res.e2e("rate_per_s") = timings.size / math.max(1e-9, timings.map(_.wall).sum)

    if (tr.enabled) layerMetrics(res, tr, timings.toSeq, passes)
    res
  }

  /** Per-group medians over passes of each pass's sums, plus the per-query
    * profile (`profile.json`): jobs, stages, construct/plan/exec and
    * shuffle bytes per query and pass.
    */
  private def layerMetrics(res: Result, tr: Trace, timings: Seq[Timing], passes: Int): Unit = {
    tr.drain()
    val tot = timings.map(t => t -> tr.totals(t.span)).toMap
    val constructJobs = timings.map(t => t -> tr.totals(t.span, "queries.construct").jobs).toMap
    val mb = 1024.0 * 1024.0
    for (g <- Seq("pinned", "floor")) {
      val per = (1 to passes).map(p => timings.filter(t => t.group == g && t.pass == p))
      def med(f: Seq[Timing] => Double): Double = Stats.median(per.map(f))
      val k = s"queries.$g"
      res.layer(s"$k.construct_s") = med(_.map(_.construct).sum)
      res.layer(s"$k.plan_s") = med(_.map(_.plan).sum)
      res.layer(s"$k.exec_s") = med(_.map(_.exec).sum)
      res.layer(s"$k.jobs") = med(_.map(tot(_).jobs.toDouble).sum)
      res.layer(s"$k.stages") = med(_.map(tot(_).stages.toDouble).sum)
      res.layer(s"$k.tasks") = med(_.map(tot(_).tasks.toDouble).sum)
      res.layer(s"$k.ms_per_job") = med(ts => ts.map(_.wall).sum * 1000.0 / math.max(1.0, ts.map(tot(_).jobs.toDouble).sum))
      res.layer(s"$k.task_s") = med(_.map(tot(_).taskMs / 1000.0).sum)
      res.layer(s"$k.shuffle_write_mb") = med(_.map(tot(_).shuffleWriteBytes / mb).sum)
      res.layer(s"$k.spill_mb") = med(_.map(tot(_).spillBytes / mb).sum)
    }
    val perPass = (1 to passes).map(p => timings.filter(_.pass == p))
    res.layer("runtime.construct_jobs") = Stats.median(perPass.map(_.map(constructJobs(_).toDouble).sum))
    res.layer("sources.scan_mb") = Stats.median(perPass.map(_.map(tot(_).inputBytes / mb).sum))
    res.extra("profile") = timings
      .map { t =>
        val c = tot(t)
        s"""{"group":"${t.group}","pass":${t.pass},"query":${Json.str(t.query)},"construct_s":${t.construct},"plan_s":${t.plan},"exec_s":${t.exec},""" +
          s""""jobs":${c.jobs},"construct_jobs":${constructJobs(t)},"stages":${c.stages},"tasks":${c.tasks},"task_s":${c.taskMs / 1000.0},""" +
          s""""input_mb":${c.inputBytes / mb},"shuffle_write_mb":${c.shuffleWriteBytes / mb},"spill_mb":${c.spillBytes / mb}}"""
      }
      .mkString("[", ",", "]")
  }
}
