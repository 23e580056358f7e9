package graftbench

import java.io.{BufferedReader, InputStreamReader}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.runtime.GraftService

/** `tcp-service`: the service path of `deploy/graft.yaml`, started with
  * `GraftService.startBatches` with a fixed trigger interval. The TCP
  * southbound feeds the three router rules; `kafka-nb` is replaced by a
  * local sink that records every frame's arrival, and `audit-nb` keeps its
  * content dedup (store in the work directory). Load comes from a separate generator process (tcpgen.py),
  * driven by run.py over this JVM's stdin/stdout:
  *
  * {{{
  * -> READY <port>                  service listening
  * <- EXPECT <phase> <kafka> <audit> wait until the sinks hold that many rows
  * -> DRAINED <phase> <ok>
  * <- STOP                           stop the service, write the records
  * }}}
  *
  * Each payload starts with three little-endian u64s: phase tag, sequence
  * number, due time (wall-clock µs). Both sinks record (tag, seq, due,
  * arrival µs, subject code, batch id) per row into `kafka.bin` /
  * `audit.bin`; run.py checks the accounting and computes latency from them.
  * The start of every micro-batch that carried rows (the query progress
  * `timestamp`) goes to `result.json` as `batch_start_us`.
  */
object TcpService {

  val Subjects: Map[String, Long] = Map("heartbeats" -> 1L, "graft-events" -> 2L, "all" -> 3L)

  final class Recorder {
    private val buf = mutable.ArrayBuffer.empty[Long]
    val sinkMs = mutable.ArrayBuffer.empty[Double]
    @volatile var rows = 0L

    @volatile var lastEpoch = -1L

    def add(got: Array[Row], epoch: Long, arrival: Long, ms: Double): Unit = synchronized {
      got.foreach { r =>
        val h = ByteBuffer.wrap(r.getAs[Array[Byte]](0)).order(ByteOrder.LITTLE_ENDIAN)
        buf += h.getLong(0)
        buf += h.getLong(8)
        buf += h.getLong(16)
        buf += arrival
        buf += Subjects.getOrElse(r.getString(1), 0L)
        buf += epoch
      }
      rows += got.length
      lastEpoch = math.max(lastEpoch, epoch)
      sinkMs += ms
    }

    def write(path: String): Unit = synchronized {
      val bb = ByteBuffer.allocate(buf.length * 8).order(ByteOrder.LITTLE_ENDIAN)
      buf.foreach(v => bb.putLong(v))
      Files.write(Paths.get(path), bb.array())
    }
  }

  private def recordingSink(rec: Recorder, tr: Trace, name: String): (DataFrame, Long) => Unit =
    (df, epoch) =>
      tr.span(s"streaming.sink.$name", s"epoch$epoch") {
        val t0 = System.nanoTime()
        val got = df.select(substring(col("payload"), 1, 24), col("subject")).collect()
        rec.add(got, epoch, Main.wallMicros(), (System.nanoTime() - t0) / 1e6)
      }

  def run(spark: SparkSession, job: Main.Job, tr: Trace): Result = {
    val res = new Result
    val port = { val s = new java.net.ServerSocket(0); try s.getLocalPort finally s.close() }
    val store = s"${job.work}/digests"
    val yaml = new String(Files.readAllBytes(Paths.get(job.str("config"))), "UTF-8")
      .replace("${PORT}", port.toString)
      .replace("${STORE}", store)
    val cfg = GraftService.parseConfig(yaml)
    val kafka = new Recorder
    val audit = new Recorder
    val sinks = Map("kafka-nb" -> recordingSink(kafka, tr, "kafka-nb"), "audit-nb" -> recordingSink(audit, tr, "audit-nb"))
    // the query's execution thread inherits this span: engine work outside
    // the two sinks (routing, the audit-nb dedup) is attributed to it
    tr.span("runtime.service")(serve(spark, job, tr, res, cfg, store, kafka, audit, sinks))
    res
  }

  private def serve(spark: SparkSession, job: Main.Job, tr: Trace, res: Result,
      cfg: GraftService.ServiceConfig, store: String, kafka: Recorder, audit: Recorder,
      sinks: Map[String, (DataFrame, Long) => Unit]): Unit = {
    val port = cfg.southbound.asInstanceOf[GraftService.TcpSouth].port
    val q = GraftService.startBatches(spark, cfg, nb => sinks(nb.name), Trigger.ProcessingTime(job.long("interval_ms")),
      Some(s"${job.work}/ckpt"))

    // traced run: sample the southbound's backlog gauge
    @volatile var sampling = tr.enabled
    @volatile var backlogPeak = 0L
    val sampler = new Thread(() =>
      while (sampling) {
        backlogPeak = math.max(backlogPeak, graft.sources.TcpShedMetrics.bufferSize(port))
        Thread.sleep(10)
      }, "perfbench-backlog-sampler")
    sampler.setDaemon(true)
    sampler.start()

    // a batch's progress is recorded once its sinks have returned
    def awaitProgress(timeoutMs: Long): Unit = {
      val last = math.max(kafka.lastEpoch, audit.lastEpoch)
      val deadline = System.currentTimeMillis() + timeoutMs
      while (!q.recentProgress.exists(_.batchId >= last) && System.currentTimeMillis() < deadline &&
        q.exception.isEmpty) Thread.sleep(2)
    }

    def say(msg: String): Unit = { System.out.println(msg); System.out.flush() }
    say(s"READY $port")
    val in = new BufferedReader(new InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line.trim != "STOP") {
      line.trim.split(" ") match {
        case Array("EXPECT", phase, k, a) =>
          val deadline = System.currentTimeMillis() + job.long("drain_timeout_s") * 1000L
          while ((kafka.rows < k.toLong || audit.rows < a.toLong) &&
            System.currentTimeMillis() < deadline && q.exception.isEmpty) Thread.sleep(2)
          val ok = kafka.rows >= k.toLong && audit.rows >= a.toLong
          if (ok) awaitProgress(10000L)
          if (phase == "warm") res.e2e("setup_s") = (Main.wallMicros() - job.spawnMicros) / 1e6
          say(s"DRAINED $phase $ok")
        case other => System.err.println(s"perfbench: ignoring '${other.mkString(" ")}'")
      }
      line = in.readLine()
    }
    sampling = false
    res.extra("batch_start_us") = q.recentProgress
      .filter(_.numInputRows > 0)
      .map { p =>
        val i = java.time.Instant.parse(p.timestamp)
        s""""${p.batchId}":${i.getEpochSecond * 1000000L + i.getNano / 1000}"""
      }
      .mkString("{", ",", "}")
    q.stop()
    q.awaitTermination(30000)
    q.exception.foreach(e => res.check("service", ok = false, e.toString.take(300)))
    kafka.write(s"${job.work}/kafka.bin")
    audit.write(s"${job.work}/audit.bin")

    if (tr.enabled) {
      tr.drain()
      val mb = 1024.0 * 1024.0
      res.layer("sources.tcp_received_frames") = graft.sources.TcpShedMetrics.receivedFrames(port).toDouble
      res.layer("sources.tcp_shed_frames") = graft.sources.TcpShedMetrics.shedFrames(port).toDouble
      res.layer("sources.tcp_backlog_peak_mb") = backlogPeak / mb
      val sinkMs = kafka.sinkMs.zipAll(audit.sinkMs, 0.0, 0.0).map { case (a, b) => a + b }
      res.layer("streaming.sink_p50_ms") = Stats.median(sinkMs)
      res.layer("streaming.digest_store_mb") = Stats.dirMb(store)
      res.layer("operators.dedup_kept_ratio") = audit.rows.toDouble / math.max(1L, kafka.rows)
      res.layer ++= tr.triggerMetrics(q.id.toString, skip = 0)
      tr.span("offpath")(offPath(spark, job, cfg, res))
    }
  }

  /** Off the timed path, over the generator's own byte stream (`frames.bin`):
    * `Telemetry.StreamDecoder.feed` throughput in 64 KB reads, as the TCP
    * reader feeds it, and the router's output rows per input row for the
    * service's rules.
    */
  private def offPath(spark: SparkSession, job: Main.Job, cfg: GraftService.ServiceConfig, res: Result): Unit = {
    val bytes = Files.readAllBytes(Paths.get(job.work, "frames.bin"))
    val chunk = 1 << 16
    def decodeAll(): Seq[graft.model.Telemetry.Frame] = {
      val d = new graft.model.Telemetry.StreamDecoder
      val out = mutable.ArrayBuffer.empty[graft.model.Telemetry.Frame]
      var off = 0
      while (off < bytes.length) {
        out ++= d.feed(java.util.Arrays.copyOfRange(bytes, off, math.min(bytes.length, off + chunk)))
        off += chunk
      }
      out.toSeq
    }
    val frames = decodeAll() // also warms the decoder
    var n = 0
    val t0 = System.nanoTime()
    while (n < 3 || System.nanoTime() - t0 < 500L * 1000000L) { decodeAll(); n += 1 }
    res.layer("model.decode_mbps") = n.toDouble * bytes.length / (1024.0 * 1024.0) / ((System.nanoTime() - t0) / 1e9)

    import spark.implicits._
    // the envelope GraftService.southboundFrame builds from a TCP source
    val df = frames.map(f => (f.msgType, f.body)).toDF("msg_type", "payload")
      .select(
        lit(null).cast("binary").as("key"),
        lit(cfg.appTopic.orNull).cast("string").as("subject"),
        map(lit("type"), when(col("msg_type") === graft.model.Telemetry.TypeHeartbeat, "heartbeat")
          .otherwise("dyn_message")).as("properties"),
        col("payload"))
    val routed = graft.operators.Router.route(df, cfg.rules).count()
    res.layer("operators.router_rows_out_per_in") = routed.toDouble / math.max(1, frames.size)
  }
}
