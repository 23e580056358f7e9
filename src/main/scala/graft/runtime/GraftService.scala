package graft.runtime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Router
import graft.streaming.StreamRuntime

/** Config-driven service: the `dsp::service` analog (SURVEY.md §3.3,
  * dsp.hpp:128-319). A YAML config in the reference's shape
  * (res/dsp.yaml / res/dsp-k2k.yaml — re-typed, not copied) wires
  * southbound source → router → northbound sinks as one streaming query
  * with fan-out; `start()` returns the StreamingQuery (the listener
  * jthread analog), graceful stop = `query.stop()`.
  */
object GraftService {

  sealed trait Southbound
  /** `batchSize` → maxFramesPerTrigger (admission control); `bufferLimit` →
    * maxBufferedBytes (O-14 drop-on-full, counted in
    * [[graft.sources.TcpShedMetrics]]).
    */
  final case class TcpSouth(port: Int, batchSize: Option[Long] = None, bufferLimit: Option[Long] = None)
      extends Southbound
  /** `options` — generic Kafka client passthrough (YAML
    * `interfaces.southbound.options`): SSL/SASL and any other
    * consumer property flows to the connector via
    * [[graft.streaming.StreamRuntime.kafkaClientOptions]] (reference
    * parity: kafka.hpp:427-441's security.protocol / ssl.* block).
    */
  final case class KafkaSouth(
      address: String,
      groupId: String,
      topics: Seq[String],
      batchSize: Option[Long],
      options: Map[String, String] = Map.empty
  ) extends Southbound
  /** O-4 — the heartbeat simulator as a config-wired source (type `sim`). */
  final case class SimSouth(clientId: Long, rowsPerSecond: Int) extends Southbound

  /** Optional per-northbound CROSS-BATCH DEDUP (YAML
    * `interfaces.northbound[].dedup`): before a batch reaches the sink,
    * rows whose `field` content was already accepted in ANY previous
    * epoch drop against the digest store ([[graft.streaming.StreamDedup]]
    * — scanned once per epoch, never shuffled, replay-idempotent), and
    * within-batch copies collapse to the first in batch order (rows
    * identical in `field` are interchangeable for a content sink). This
    * is the LLM-pipeline ingestion gate made config-driven: a YAML-only
    * operator can point any sink at a store path and get
    * exactly-once-by-content delivery.
    */
  final case class DedupConf(store: String, field: String = "payload")

  /** `options` — same generic Kafka client passthrough for producer-type
    * sinks (YAML `interfaces.northbound[].options`); ignored by
    * non-Kafka sink factories.
    */
  final case class Northbound(
      name: String,
      tpe: String,
      address: String,
      enabled: Boolean,
      options: Map[String, String] = Map.empty,
      dedup: Option[DedupConf] = None
  )

  /** `metricsPort` — `interfaces.metrics.port` when the metrics block is
    * present and enabled (dsp.hpp:244-255's exposer wiring); None
    * otherwise (callers pick their default).
    */
  final case class ServiceConfig(
      southbound: Southbound,
      northbound: Seq[Northbound],
      rules: Seq[Router.Rule],
      appTopic: Option[String],
      metricsPort: Option[Int] = None
  )

  /** An interface block's `options:` map as plain strings (absent → empty).
    * Keys may contain dots (`ssl.truststore.location`) — read via the
    * node's map accessor, never the dotted-path one.
    */
  private def optionsOf(n: YamlLite.Node): Map[String, String] =
    n.get("options") match {
      case Some(o) =>
        o.value match {
          case _: Map[_, _] => o.map.map { case (k, v) => k -> v.str }
          case _            => Map.empty
        }
      case None => Map.empty
    }

  /** Parse the reference-shaped YAML (keys per dsp.hpp:200-255 and
    * res/dsp.yaml:19-29).
    */
  def parseConfig(yaml: String): ServiceConfig = {
    val root = YamlLite.parse(yaml)
    val sb = root("interfaces.southbound")
    val south = sb("type").str match {
      case "tcp" =>
        TcpSouth(
          sb("port").int,
          sb.get("batchSize").map(_.long),
          sb.get("bufferLimit").map(_.long)
        )
      case "kafka" =>
        KafkaSouth(
          sb("address").str,
          sb.get("groupid").map(_.str).getOrElse("graft-consumer"),
          sb("topics").list.map(_.str),
          sb.get("batchSize").map(_.long),
          optionsOf(sb)
        )
      case "sim" =>
        SimSouth(
          sb.get("clientId").map(_.long).getOrElse(72L), // sim.cpp:56 default
          sb.get("rowsPerSecond").map(_.int).getOrElse(1)
        )
      case other => throw new IllegalArgumentException(s"unknown southbound type '$other'")
    }
    val norths = root.get("interfaces.northbound").map(_.list).getOrElse(Seq.empty).map { n =>
      Northbound(
        n("name").str,
        n("type").str,
        n.get("address").map(_.str).getOrElse(""),
        n.get("enabled").map(_.bool).getOrElse(true),
        optionsOf(n),
        n.get("dedup").map { d =>
          DedupConf(
            store = d("store").str,
            field = d.get("field").map(_.str).getOrElse("payload")
          )
        }
      )
    }
    val rules = root.get("rules").map(_.list).getOrElse(Seq.empty).map { r =>
      Router.Rule(
        name = r("name").str,
        priority = r("priority").int,
        field = r("condition")("field").str,
        value = r("condition")("value").str,
        action = r("action").str match {
          case "allow" => Router.Allow
          case "deny"  => Router.Deny
          case other   => throw new IllegalArgumentException(s"unknown action '$other'")
        },
        destination = r("destination").str,
        subject = r("subject").str,
        matcher = r("condition").get("matcher").map(_.str).getOrElse("exact")
      )
    }
    val metricsPort = root
      .get("interfaces.metrics")
      .filter(m => m.get("enabled").forall(_.bool))
      .flatMap(_.get("port").map(_.int))
    ServiceConfig(south, norths, rules, root.get("topic").map(_.str), metricsPort)
  }

  /** Build the southbound DataFrame in the canonical envelope schema. */
  def southboundFrame(spark: SparkSession, cfg: ServiceConfig): DataFrame = {
    import org.apache.spark.sql.functions._
    cfg.southbound match {
      case TcpSouth(port, batchSize, bufferLimit) =>
        val r0 = spark.readStream
          .format("graft-tcp")
          .option("port", port.toString)
        val r1 = batchSize.fold(r0)(b => r0.option("maxFramesPerTrigger", b.toString))
        val r2 = bufferLimit.fold(r1)(b => r1.option("maxBufferedBytes", b.toString))
        r2.load()
          .select(
            lit(null).cast("binary").as("key"),
            lit(cfg.appTopic.orNull).cast("string").as("subject"),
            map(
              lit("type"),
              when(col("msg_type") === graft.model.Telemetry.TypeHeartbeat, "heartbeat")
                .otherwise("dyn_message")
            ).as("properties"),
            col("payload")
          )
      case KafkaSouth(address, groupId, topics, batchSize, options) =>
        StreamRuntime.kafkaSource(spark, address, topics, batchSize, Some(groupId), options)
      case SimSouth(clientId, rps) =>
        StreamRuntime
          .heartbeatSimulator(spark, clientId, rps)
          .select(
            lit(null).cast("binary").as("key"),
            lit(cfg.appTopic.orNull).cast("string").as("subject"),
            map(lit("type"), lit("heartbeat")).as("properties"),
            col("frame").as("payload")
          )
    }
  }

  /** Wire the full pipeline. `sinkFactory` resolves a northbound config to
    * a batch-write function (tests pass memory/collect sinks; production
    * passes kafka/console writers keyed by `tpe`).
    */
  def start(
      spark: SparkSession,
      cfg: ServiceConfig,
      sinkFactory: Northbound => DataFrame => Unit,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      checkpointLocation: Option[String] = None
  ): StreamingQuery =
    startBatches(spark, cfg, nb => { val w = sinkFactory(nb); (b, _) => w(b) }, trigger, checkpointLocation)

  /** [[start]] with the micro-batch id forwarded to sinks (idempotent-sink
    * recovery handle) and an optional checkpoint location — the
    * production-restart shape: a daemon killed and relaunched on the same
    * checkpoint resumes from its committed offsets instead of starting
    * fresh (exercised end-to-end in ChaosSoakSpec).
    */
  def startBatches(
      spark: SparkSession,
      cfg: ServiceConfig,
      sinkFactory: Northbound => (DataFrame, Long) => Unit,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      checkpointLocation: Option[String] = None
  ): StreamingQuery = {
    val src = southboundFrame(spark, cfg)
    val routed =
      if (cfg.rules.nonEmpty) Router.route(src, cfg.rules)
      else src.withColumn("destination", org.apache.spark.sql.functions.lit("*"))
    val sinks = cfg.northbound.filter(_.enabled)
    val writers: Map[String, (DataFrame, Long) => Unit] = sinks.map { nb =>
      val write = nb.dedup.fold(sinkFactory(nb))(d => wrapDedup(d, sinkFactory(nb)))
      // each sink sees only traffic routed to it (or broadcast '*')
      nb.name -> { (batch: DataFrame, epoch: Long) =>
        write(
          batch.filter(
            org.apache.spark.sql.functions.col("destination").isin(nb.name, "*")
          ),
          epoch
        )
      }
    }.toMap
    val writer = StreamRuntime.fanOutSinkWithEpoch(routed, writers).trigger(trigger)
    checkpointLocation.fold(writer)(c => writer.option("checkpointLocation", c)).start()
  }

  /** Wrap an epoch-aware sink with [[DedupConf]]'s cross-batch content
    * dedup: binary `field`s digest via their hex form (total + injective
    * — a lossy binary→string cast could alias distinct payloads), other
    * types via their string form, and the store decides survival across
    * epochs AND within the batch: every row gets a unique id
    * (`monotonically_increasing_id`, fixed once in
    * [[graft.streaming.StreamDedup.dedupBatch]]'s cached rows), so that
    * method's keep-smallest-id rule collapses same-batch copies — on the
    * digest, which is [[graft.operators.TextOps.fingerprintMd5]],
    * whitespace/case-normalized for strings, so two same-batch payloads
    * that differ only in normalization collapse exactly as they would
    * across epochs (one exactly-once-by-content contract on both sides of
    * the batch boundary) — to the first copy in batch order, without a
    * shuffle. Store semantics (overwrite-by-epoch, replay-idempotent) are
    * StreamDedup's verbatim.
    */
  private[graft] def wrapDedup(
      d: DedupConf,
      accept: (DataFrame, Long) => Unit
  ): (DataFrame, Long) => Unit = { (batch, epoch) =>
    import org.apache.spark.sql.functions._
    val fpSrc =
      if (batch.schema(d.field).dataType == org.apache.spark.sql.types.BinaryType)
        hex(col(d.field))
      else col(d.field).cast("string")
    graft.streaming.StreamDedup.dedupBatch(
      batch.withColumn("__graft_dedup_id", monotonically_increasing_id()),
      fpSrc,
      col("__graft_dedup_id"),
      d.store,
      epoch,
      (kept, e) => accept(kept.drop("__graft_dedup_id"), e)
    )
    ()
  }

  /** Full daemon lifecycle: the service query plus the metrics bridge, the
    * `/metrics` HTTP exposer, and a shutdown-hook graceful stop — the
    * `dsp::service` run loop analog (dsp.hpp:275-310 wires exposer +
    * metrics push; daemon.hpp:80-141 the signal-driven stop).
    * `metricsPort = 0` picks a free port (read back via
    * [[GraftDaemon.metricsPort]]).
    *
    * `metricsBind` (default loopback) controls where `/metrics` listens —
    * `Some("0.0.0.0")` for deployments whose health probe or scraper hits
    * the pod IP. The mutating `/reload` endpoint NEVER rides a
    * non-loopback server: with an exposed metrics bind it moves to a
    * second loopback-only server (read its port back via
    * [[GraftDaemon.oamPort]]), so exposing the scrape can't silently
    * expose an unauthenticated restart endpoint with it.
    */
  def startDaemon(
      spark: SparkSession,
      cfg: ServiceConfig,
      sinkFactory: Northbound => DataFrame => Unit,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      metricsPort: Int = 0,
      checkpointLocation: Option[String] = None,
      metricsBind: Option[String] = None
  ): GraftDaemon = {
    val bridge = new graft.streaming.MetricsBridge
    spark.streams.addListener(bridge)
    // tcp southbounds append their O-14 shed counters to the scrape; the
    // port resolves from the daemon's CURRENT config at scrape time, so a
    // reload onto a different port re-points the exposition with it
    @volatile var daemonRef: GraftDaemon = null
    val extraScrape: () => String = () => {
      val south = Option(daemonRef).map(_.currentConfig).getOrElse(cfg).southbound
      south match {
        case TcpSouth(port, _, _) => graft.sources.TcpShedMetrics.scrape(port)
        case _                    => ""
      }
    }
    val server = graft.streaming.MetricsHttpServer.start(bridge, metricsPort, extraScrape, metricsBind)
    // mutating OAM stays loopback-only: co-host /reload with /metrics when
    // the metrics bind is loopback, otherwise give it its own server
    val oamServer =
      if (server.isLoopbackOnly) None
      else Some(graft.streaming.MetricsHttpServer.start(bridge, 0, extraScrape))
    try {
      val query = start(spark, cfg, sinkFactory, trigger, checkpointLocation)
      // reload restarts reuse the checkpoint: a config swap resumes from
      // the committed offsets instead of starting fresh
      val daemon =
        new GraftDaemon(spark, query, bridge, server, cfg, Some(c => start(spark, c, sinkFactory, trigger, checkpointLocation)), oamServer)
      daemonRef = daemon
      // HTTP OAM: POST a YAML config to /reload → parse + restart-in-place
      // (the reference's svc/main.cpp:203-230 endpoint, there disabled;
      // loopback-only here even when /metrics is exposed)
      oamServer.getOrElse(server).addContext("/reload") { body =>
        val q = daemon.reload(parseConfig(body))
        (200, s"reloaded: query ${q.id}\n")
      }
      daemon
    } catch {
      case e: Throwable =>
        spark.streams.removeListener(bridge)
        oamServer.foreach(_.stop())
        server.stop()
        throw e
    }
  }
}
