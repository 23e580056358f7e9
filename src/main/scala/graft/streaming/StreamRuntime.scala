package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.model.Message

/** Streaming runtime: the `dsp::service` analog (SURVEY.md §3.3). Wires
  * sources → handler transforms → sinks as Structured Streaming queries.
  * All transforms are the SAME `DataFrame => DataFrame` code as the batch
  * path ([[graft.operators.Pipeline]], [[graft.operators.Router]]) — the
  * central payoff of the Spark rewrite (SURVEY.md §7.3).
  */
object StreamRuntime {

  /** Spark-connector-level option keys (lowercased): these configure the
    * Spark Kafka source/sink itself and must NOT be prefixed `kafka.` —
    * everything else in a user options map is a Kafka CLIENT property
    * (librdkafka-style in the reference: kafka.hpp:427-441's SSL block
    * `security.protocol`, `ssl.ca.location`, cert/key/passwd) and reaches
    * the consumer/producer only under Spark's `kafka.` prefix.
    */
  private val sparkKafkaOptionKeys: Set[String] = Set(
    "subscribe", "subscribepattern", "assign", "topic",
    "startingoffsets", "endingoffsets", "startingtimestamp", "endingtimestamp",
    "startingoffsetsbytimestamp", "endingoffsetsbytimestamp",
    "failondataloss", "includeheaders", "maxoffsetspertrigger",
    "minoffsetspertrigger", "maxtriggerdelay", "minpartitions",
    "grouptimestamptype", "kafkaconsumer.polltimeoutms",
    "fetchoffset.numretries", "fetchoffset.retryintervalms"
  )

  /** Normalize a user-facing options map (YAML `interfaces.*.options`) to
    * Spark Kafka reader/writer options: keys already prefixed `kafka.` or
    * naming a Spark connector option pass verbatim; anything else is a
    * broker client property and gains the `kafka.` prefix. This is the
    * reference-parity path for SSL/SASL brokers (kafka.hpp:427-441):
    * `options: {security.protocol: SSL, ssl.truststore.type: PEM,
    * ssl.truststore.location: /path/ca.pem}` in YAML reaches the Kafka
    * client config-only, no code changes. NOTE the property NAMES are the
    * Apache Kafka JAVA client's (`ssl.truststore.*`/`ssl.keystore.*`, PEM
    * per KIP-651), not librdkafka's `ssl.ca.location` family the C++
    * reference configures — the Java client logs-and-ignores unknown
    * librdkafka names, leaving TLS silently unconfigured.
    */
  def kafkaClientOptions(options: Map[String, String]): Map[String, String] =
    options.map { case (k, v) =>
      val key =
        if (k.startsWith("kafka.") || sparkKafkaOptionKeys.contains(k.toLowerCase)) k
        else s"kafka.$k"
      key -> v
    }

  /** The configured (un-loaded) reader behind [[kafkaSource]] — split out
    * so brokerless tests can assert the exact option set that would reach
    * the connector (no Kafka jar/broker in this environment means `load()`
    * itself is untestable here).
    */
  def kafkaSourceReader(
      spark: SparkSession,
      bootstrap: String,
      topics: Seq[String],
      batchSize: Option[Long] = None,
      groupId: Option[String] = None,
      options: Map[String, String] = Map.empty
  ): org.apache.spark.sql.streaming.DataStreamReader = {
    val r0 = spark.readStream
    // the configured consumer group must reach the broker (ACLs, lag
    // monitoring key on it) — Spark accepts it via kafka.group.id
    val r = groupId.fold(r0)(g => r0.option("kafka.group.id", g))
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topics.mkString(","))
      .option("includeHeaders", "true")
    val withBatch = batchSize.fold(r)(b => r.option("maxOffsetsPerTrigger", b.toString))
    // user options LAST: an explicit per-interface option (e.g. a
    // different includeHeaders, an SSL block) overrides the defaults above
    kafkaClientOptions(options).foldLeft(withBatch) { case (acc, (k, v)) => acc.option(k, v) }
  }

  /** O-1 — Kafka consumer source (kafka.hpp:801-925). `batchSize` maps to
    * maxOffsetsPerTrigger, `includeHeaders` carries the properties map.
    * Yields the canonical message schema: subject=topic, properties from
    * headers, key/payload binary. `options` is the generic client
    * passthrough (SSL/SASL — see [[kafkaClientOptions]]).
    */
  def kafkaSource(
      spark: SparkSession,
      bootstrap: String,
      topics: Seq[String],
      batchSize: Option[Long] = None,
      groupId: Option[String] = None,
      options: Map[String, String] = Map.empty
  ): DataFrame =
    normalizeKafka(kafkaSourceReader(spark, bootstrap, topics, batchSize, groupId, options).load())

  /** Kafka row → canonical message envelope (SURVEY.md §1.1/§1.2).
    * Kafka headers are an ordered MULTI-map (duplicate keys are legal);
    * the envelope's properties map is not — duplicates keep the FIRST
    * occurrence (the reference's unordered_map insert semantics), because
    * a raw `map_from_entries` would throw on the duplicate and turn one
    * poison-pill record into a permanently wedged query. Null header KEYS
    * are skipped for the same reason (map keys cannot be null). The whole
    * headers→map step is ONE native linear-pass expression
    * ([[graft.functions.codecs.KafkaHeadersToMap]]) — the previous HOF
    * formulation was O(h²) per record with interpreted lambdas, a real
    * per-record cost on header-heavy topics.
    */
  def normalizeKafka(df: DataFrame): DataFrame =
    df.select(
      col("key"),
      col("topic").as("subject"),
      graft.functions.codecs
        .kafka_headers_map(coalesce(col("headers"), array()))
        .as("properties"),
      col("value").as("payload")
    )

  /** Envelope → Kafka producer columns (subject→topic, properties→headers,
    * key/payload passthrough): the exact projection [[kafkaSink]] writes,
    * exposed separately so brokerless tests replay the REAL mapping, not a
    * copy of it.
    */
  def toKafkaColumns(df: DataFrame): DataFrame =
    df.select(
      col("key"),
      col("subject").as("topic"),
      transform(
        map_entries(coalesce(col("properties"), map())),
        e => struct(e.getField("key").as("key"), encode(e.getField("value"), "UTF-8").as("value"))
      ).as("headers"),
      col("payload").as("value")
    )

  /** O-5 — Kafka producer sink (kafka.hpp:557-792): map the envelope back
    * to the sink columns (subject→topic, properties→headers); delivery
    * acks/flush are Spark's epoch commit. `options` is the generic client
    * passthrough (SSL/SASL — see [[kafkaClientOptions]]), applied last so
    * explicit options win.
    */
  def kafkaSink(
      df: DataFrame,
      bootstrap: String,
      checkpoint: String,
      options: Map[String, String] = Map.empty
  ): DataStreamWriter[org.apache.spark.sql.Row] = {
    val w = toKafkaColumns(df).writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("checkpointLocation", checkpoint)
    kafkaClientOptions(options).foldLeft(w) { case (acc, (k, v)) => acc.option(k, v) }
  }

  /** O-16 — run-until-drained: `Trigger.AvailableNow` processes everything
    * available then stops — the idiomatic twin of the reference's
    * partition-EOF stop (handler.hpp:101-128, svc/main.cpp:144-155).
    */
  def drainAndStop(w: DataStreamWriter[org.apache.spark.sql.Row]): StreamingQuery = {
    val q = w.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }

  /** O-7 — broadcast fan-out: ONE streaming query, each micro-batch
    * computed once and written to every attached named sink — see
    * [[fanOutSinkWithEpoch]].
    */
  def fanOutSink(
      df: DataFrame,
      sinks: Map[String, DataFrame => Unit]
  ): DataStreamWriter[org.apache.spark.sql.Row] =
    fanOutSinkWithEpoch(df, sinks.map { case (k, w) => k -> ((b: DataFrame, _: Long) => w(b)) })

  /** [[fanOutSink]] with the micro-batch id forwarded to each sink — the
    * handle an idempotent sink needs to make checkpointed recovery
    * exactly-once (a replayed batch re-arrives under the SAME id, so the
    * sink can overwrite instead of append — Spark's documented
    * foreachBatch contract).
    *
    * The batch is lent to the sinks as a row cache
    * ([[org.apache.spark.sql.graftbridge.Bridge.cacheRows]]): its rows stay
    * in Spark's binary row format, packed once into arrays of an RDD
    * persisted MEMORY_AND_DISK, and released when the last sink returns or
    * throws.
    * `cache::send` is "a simple proxy, it does not actually hold any data"
    * (cache.hpp:65-76); the nearest Spark equivalent keeps the rows only
    * for the batch's own sinks, without re-encoding them as compressed
    * column batches and without an entry in the session's
    * `CacheManager`, so no other query of the session can match it.
    * Lineage stays, so a lost block is recomputed.
    *
    * The sinks run CONCURRENTLY on the cached batch, as `cache::send`
    * hands a message to every attached northbound and AND-combines their
    * success: every sink is attempted, and the epoch fails — Spark
    * retries it — with the first failure in sink order, the others
    * attached as suppressed. The batch is still computed once: concurrent
    * readers of a cached partition wait on its block lock. Each sink
    * after the first runs on a short-lived thread started from the
    * `foreachBatch` thread, so it inherits that thread's Spark local
    * properties (job group, streaming batch id) and active session.
    */
  def fanOutSinkWithEpoch(
      df: DataFrame,
      sinks: Map[String, (DataFrame, Long) => Unit]
  ): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.foreachBatch { (batch: DataFrame, epoch: Long) =>
      Bridge.cacheRows(batch)(rows => runAll(sinks.values.toSeq.map(write => () => write(rows, epoch))))
    }

  /** Run `tasks` concurrently — the first on the calling thread, each
    * other on a thread started from it — wait for all of them, then
    * rethrow the first failure in `tasks` order with the rest suppressed.
    */
  private def runAll(tasks: Seq[() => Unit]): Unit = {
    val failures = new Array[Throwable](tasks.size)
    def attempt(i: Int): Unit =
      try tasks(i)()
      catch { case t: Throwable => failures(i) = t }
    val threads = tasks.indices.drop(1).map { i =>
      val t = new Thread(() => attempt(i), s"graft-fanout-sink-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    try {
      if (tasks.nonEmpty) attempt(0)
      threads.foreach(_.join())
    } catch {
      case e: InterruptedException =>
        threads.foreach(_.interrupt())
        throw e
    }
    failures.filter(_ != null).toList match {
      case first :: rest =>
        rest.foreach(first.addSuppressed)
        throw first
      case Nil => ()
    }
  }

  /** O-15 — streaming throughput: watermarked 1 s tumbling counts.
    * Same aggregation as the batch twin [[graft.operators.Pipeline.throughput]].
    */
  def throughput(df: DataFrame, tsCol: String, sizeBytes: org.apache.spark.sql.Column): DataFrame =
    graft.operators.Pipeline.throughput(
      df.withWatermark(tsCol, "10 seconds"),
      col(tsCol),
      sizeBytes
    )

  /** O-4 — heartbeat simulator (svc/svc/sim.cpp:72-97): a `rate` source
    * emitting one serialized heartbeat per tick, sequence = rate value,
    * timestamp = wall clock — the reference's 1 s cadence is
    * rowsPerSecond=1.
    */
  def heartbeatSimulator(spark: SparkSession, clientId: Long, rowsPerSecond: Int = 1): DataFrame =
    simulateHeartbeats(
      spark.readStream.format("rate").option("rowsPerSecond", rowsPerSecond.toString).load(),
      clientId
    )

  /** The simulator's frame-building transform over any (timestamp, value)
    * input — shared by the streaming rate path and batch tests.
    */
  def simulateHeartbeats(df: DataFrame, clientId: Long): DataFrame =
    df.select(
      graft.functions.codecs
        .encode_heartbeat(lit(clientId), col("value"), unix_millis(col("timestamp")))
        .as("frame")
    )

  /** O-17 — observation metrics: labeled counters riding the query itself
    * (no second pass), the Spark-native twin of the metrics registry
    * (libdsp/libdsp/metrics.hpp:28-97). Returns the instrumented frame and
    * the Observation to read after an action.
    */
  def observeCounters(df: DataFrame, name: String): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation(name)
    val instrumented = df.observe(
      obs,
      count(lit(1)).as("process_messages_total"),
      sum(length(col("payload"))).as("process_bytes_total")
    )
    (instrumented, obs)
  }

  /** Typed facade: canonical envelope rows as Dataset[Message]. */
  def asMessages(df: DataFrame): org.apache.spark.sql.Dataset[Message] = {
    implicit val enc: org.apache.spark.sql.Encoder[Message] =
      org.apache.spark.sql.Encoders.product[Message]
    df.select(col("key"), col("subject"), col("properties"), col("payload")).as[Message]
  }
}
