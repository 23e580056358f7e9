package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** `feature-store`: a closed loop over `rate-micro-batch` epochs in the
  * `graft.BenchStreamStage` shape. Every epoch of R rows runs
  * `StreamAsOf.enrichBatch` (3/4 of the rows are events, enriched as-of
  * against every observation stored so far; the other 1/4 are this epoch's
  * observations, appended to the store) and then `StreamDedup.dedupBatch`
  * over R documents: epoch 0 holds two copies of each of R/2 texts, and
  * every later document repeats one already in the digest store.
  *
  * The seed picks each row's key and each document's text. Conservation
  * (checked per epoch, a failing epoch counts as failed): every event row
  * is enriched, epoch 0 keeps exactly R/2 documents and later epochs keep
  * none, and the observation store ends with R/4 rows per epoch.
  *
  * Timed: the epochs after the warm-up ones. An epoch's wall time is the
  * time between the ends of consecutive sink calls, which includes the
  * engine's per-trigger work (offsets, planning, log commits). The median
  * epoch wall is `latency_ms`, the upper quartile `tail_ms`: with a handful
  * of epochs per run, the slowest one mostly tells whether a stall of the
  * host fell into the run, and the warm-up left over in the first timed epoch.
  */
object FeatureStore {

  def run(spark: SparkSession, job: Main.Job, tr: Trace): Result = {
    val res = new Result
    val rowsPer = job.int("rows_per_epoch")
    require(rowsPer % 4 == 0, "rows_per_epoch must be divisible by 4")
    val warm = job.int("warm_epochs")
    val total = warm + job.int("epochs")
    val nKeys = job.int("keys")
    val nDocs = rowsPer / 2
    val seed = job.seed
    val obsStore = s"${job.work}/obs"
    val digestStore = s"${job.work}/digests"

    final case class Epoch(id: Long, endNanos: Long, sinkMs: Double, asofMs: Double, dedupMs: Double,
        enriched: Long, kept: Long)
    val epochs = mutable.ArrayBuffer.empty[Epoch]
    @volatile var done = 0
    @volatile var setupS = Double.NaN

    val sink = (batch: DataFrame, epoch: Long) =>
      if (done < total) tr.span("streaming.sink", s"epoch$epoch") {
        val t0 = System.nanoTime()
        val b = batch.select(
          col("value"),
          pmod(xxhash64(col("value"), lit(seed)), lit(nKeys.toLong)).as("k"),
          col("value").as("t")
        )
        val events = b.filter(col("value") % 4 =!= 0).select(col("k"), col("t"), col("value").as("event_id"))
        val obs = b.filter(col("value") % 4 === 0).select(col("k"), col("t"), (col("value") * 2).as("feat"))
        val enriched = tr.span("streaming.asof") {
          graft.streaming.StreamAsOf.enrichBatch(events, obs, "k", "t", obsStore, epoch, (_, _) => ())
        }
        val t1 = System.nanoTime()
        val docs = batch.select(
          col("value").as("doc_id"),
          concat(lit("doc "), xxhash64(col("value") % nDocs, lit(seed)).cast("string")).as("text")
        )
        val kept = tr.span("streaming.dedup") {
          graft.streaming.StreamDedup.dedupBatch(docs, col("text"), col("doc_id"), digestStore, epoch,
            (_, _) => (), expectedRefItems = rowsPer.toLong, fpp = 0.01)
        }
        val t2 = System.nanoTime()
        epochs.synchronized {
          epochs += Epoch(epoch, t2, (t2 - t0) / 1e6, (t1 - t0) / 1e6, (t2 - t1) / 1e6, enriched, kept)
        }
        done += 1
        if (done == warm) setupS = (Main.wallMicros() - job.spawnMicros) / 1e6
      }

    // the query's execution thread inherits this span
    tr.span("streaming.query") {
      val q = spark.readStream
        .format("rate-micro-batch")
        .option("rowsPerBatch", rowsPer.toString)
        .option("numPartitions", job.str("cpus"))
        .load()
        .writeStream
        .queryName("feature-store")
        .option("checkpointLocation", s"${job.work}/ckpt")
        .trigger(Trigger.ProcessingTime(0L))
        .foreachBatch(sink)
        .start()
      val deadline = System.currentTimeMillis() + job.long("timeout_s") * 1000L
      while (done < total && System.currentTimeMillis() < deadline && q.exception.isEmpty) Thread.sleep(5)
      q.stop()
      q.awaitTermination(30000)
      q.exception.foreach(e => res.check("stream", ok = false, e.toString.take(300)))
    }

    val all = epochs.synchronized(epochs.toList)
    val expectedEvents = rowsPer - rowsPer / 4
    res.attempted = total
    all.foreach { e =>
      val keptOk = if (e.id == 0) e.kept == nDocs else e.kept == 0
      val ok = e.enriched == expectedEvents && keptOk
      if (!ok) {
        res.failed += 1
        res.check(s"epoch ${e.id}", ok = false, s"enriched ${e.enriched} (want $expectedEvents), kept ${e.kept}")
      }
    }
    res.failed += total - all.size
    if (all.size < total) res.check("epochs", ok = false, s"${all.size} of $total epochs ran")
    val storeRows =
      try spark.read.parquet(obsStore).count()
      catch { case _: Throwable => -1L }
    val storeOk = storeRows == all.size.toLong * (rowsPer / 4)
    res.check("obs store rows", storeOk, s"$storeRows rows, want ${all.size.toLong * (rowsPer / 4)}")
    if (!storeOk) res.failed += 1

    val timed = all.drop(warm)
    val walls = all.zip(all.drop(1)).drop(warm - 1).map { case (a, b) => (b.endNanos - a.endNanos) / 1e6 }
    res.e2e("setup_s") = setupS
    res.e2e("latency_ms") = Stats.median(walls)
    res.e2e("tail_ms") = Stats.pct(walls, 0.75)
    res.e2e("rate_per_s") = timed.size.toLong * rowsPer / math.max(1e-9, walls.sum / 1000.0)
    res.extra("epoch_walls_ms") = walls.map(w => Json.num(w)).mkString("[", ",", "]")

    if (tr.enabled) {
      tr.drain()
      val quarter = math.max(1, walls.size / 4)
      res.layer("streaming.sink_p50_ms") = Stats.median(timed.map(_.sinkMs))
      res.layer("streaming.asof_p50_ms") = Stats.median(timed.map(_.asofMs))
      res.layer("streaming.dedup_p50_ms") = Stats.median(timed.map(_.dedupMs))
      res.layer("streaming.epoch_growth") =
        (walls.takeRight(quarter).sum / quarter) / math.max(1e-9, walls.take(quarter).sum / quarter)
      res.layer("streaming.obs_store_mb") = Stats.dirMb(obsStore)
      res.layer("streaming.digest_store_mb") = Stats.dirMb(digestStore)
      res.layer("operators.dedup_kept_ratio") = all.map(_.kept).sum.toDouble / (all.size.toLong * rowsPer)
      res.layer ++= tr.triggerMetrics("feature-store", skip = warm)
    }
    res
  }
}
