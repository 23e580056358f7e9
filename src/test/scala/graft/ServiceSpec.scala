package graft

import java.net.{ServerSocket, Socket}

import scala.jdk.CollectionConverters._

import graft.model.Telemetry._
import graft.runtime.{GraftService, YamlLite}

/** Config parsing (reference YAML shape, res/dsp.yaml re-typed) and the
  * full config→TCP→router→fan-out service lifecycle (§3.3 entry point C).
  */
class ServiceSpec extends SparkTestBase {

  private val fixtureYaml =
    """# service config (shape of res/dsp.yaml:1-29)
      |topic: dev-test
      |handler: telemetry
      |interfaces:
      |  southbound:
      |    type: tcp
      |    port: %PORT%
      |  northbound:
      |    - enabled: true
      |      name: main-nb
      |      type: memory
      |      address: localhost:9092
      |    - enabled: true
      |      name: audit-nb
      |      type: memory
      |  metrics:
      |    enabled: true
      |    port: 9555
      |daemon-interval: 1
      |rules:
      |  - name: hb
      |    priority: 1
      |    condition: {field: type, value: heartbeat, matcher: exact}
      |    action: allow
      |    destination: main-nb
      |    subject: heartbeats
      |  - name: mirror
      |    priority: 2
      |    condition: {field: '*', value: '*'}
      |    action: allow
      |    destination: audit-nb
      |    subject: all
      |""".stripMargin

  test("YamlLite accepts block lists at the key's own indentation (zero-indent style)") {
    val cfg = GraftService.parseConfig(
      """topic: hb-out
        |interfaces:
        |  southbound:
        |    type: sim
        |    clientId: 7
        |  northbound:
        |  - {enabled: true, name: log-nb, type: log}
        |rules:
        |- name: hb
        |  priority: 1
        |  condition: {field: type, value: heartbeat}
        |  action: allow
        |  destination: log-nb
        |  subject: heartbeats
        |""".stripMargin
    )
    assert(cfg.northbound.map(_.name) == Seq("log-nb"))
    assert(cfg.rules.map(_.name) == Seq("hb"))
  }

  test("YamlLite parses the reference config shape") {
    val n = YamlLite.parse(fixtureYaml.replace("%PORT%", "7200"))
    assert(n("topic").str == "dev-test")
    assert(n("interfaces.southbound.type").str == "tcp")
    assert(n("interfaces.southbound.port").int == 7200)
    val nbs = n("interfaces.northbound").list
    assert(nbs.map(_("name").str) == Seq("main-nb", "audit-nb"))
    assert(nbs.head("enabled").bool)
    val rules = n("rules").list
    assert(rules.head("condition")("field").str == "type")
    assert(rules(1)("condition")("value").str == "*")
    assert(n("daemon-interval").int == 1)
  }

  test("k2k config shape (res/dsp-k2k.yaml) parses: kafka southbound with topic list") {
    val k2k =
      """topic: dev-test-2
        |interfaces:
        |  southbound:
        |    type: kafka
        |    address: localhost:9092
        |    groupid: dsp-consumer
        |    topics: [dev-test]
        |    batchSize: 10
        |    pollTimeoutMs: 100
        |""".stripMargin
    val cfg = GraftService.parseConfig(k2k)
    val south = cfg.southbound.asInstanceOf[GraftService.KafkaSouth]
    assert(south.topics == Seq("dev-test") && south.batchSize.contains(10L))
    assert(cfg.appTopic.contains("dev-test-2"))
  }

  /** The private `extraOptions` CaseInsensitiveMap of a DataStreamReader /
    * DataStreamWriter — the exact option set that would reach the
    * connector (no broker or Kafka jar in this environment, so asserting
    * on the configured-but-unloaded reader/writer is the testable
    * surface).
    */
  private def streamOptions(obj: AnyRef): Map[String, String] = {
    val f = obj.getClass.getDeclaredFields.find(_.getName.endsWith("extraOptions")).get
    f.setAccessible(true)
    // lowercase keys: CaseInsensitiveMap's iteration casing is an internal
    // detail — the connector looks keys up case-insensitively anyway
    f.get(obj)
      .asInstanceOf[scala.collection.Map[String, String]]
      .map { case (k, v) => k.toLowerCase -> v }
      .toMap
  }

  test("kafka.* passthrough: YAML options reach the reader/writer (SSL config-only, kafka.hpp:427-441 parity)") {
    val yaml =
      """topic: dev-test-2
        |interfaces:
        |  southbound:
        |    type: kafka
        |    address: broker:9093
        |    groupid: dsp-consumer
        |    topics: [dev-test]
        |    options:
        |      security.protocol: SSL
        |      ssl.truststore.type: PEM
        |      ssl.truststore.location: /run/secrets/ca.pem
        |      ssl.keystore.type: PEM
        |      ssl.keystore.location: /run/secrets/client.pem
        |      startingOffsets: earliest
        |      kafka.ssl.key.password: hunter2
        |  northbound:
        |    - enabled: true
        |      name: out-nb
        |      type: kafka
        |      address: broker:9093
        |      options: {security.protocol: SSL, ssl.truststore.type: PEM, ssl.truststore.location: /run/secrets/ca.pem}
        |""".stripMargin
    val cfg = GraftService.parseConfig(yaml)
    val south = cfg.southbound.asInstanceOf[GraftService.KafkaSouth]
    // client properties get the kafka. prefix; Spark connector options and
    // already-prefixed keys pass verbatim
    val reader = graft.streaming.StreamRuntime.kafkaSourceReader(
      spark, south.address, south.topics, south.batchSize, Some(south.groupId), south.options)
    val ro = streamOptions(reader)
    // Java-client (not librdkafka) property names: the connector's
    // consumer/producer is the Apache Kafka client, which reads
    // ssl.truststore.*/ssl.keystore.* (PEM supported since KIP-651) and
    // silently ignores librdkafka's ssl.ca.location family
    assert(ro("kafka.ssl.truststore.type") == "PEM")
    assert(ro("kafka.ssl.truststore.location") == "/run/secrets/ca.pem")
    assert(ro("kafka.security.protocol") == "SSL")
    assert(ro("kafka.ssl.keystore.type") == "PEM")
    assert(ro("kafka.ssl.keystore.location") == "/run/secrets/client.pem")
    assert(ro("kafka.ssl.key.password") == "hunter2") // already prefixed: verbatim
    assert(ro("startingoffsets") == "earliest") // Spark-level: NOT prefixed
    assert(!ro.contains("kafka.startingoffsets"))
    assert(ro("kafka.bootstrap.servers") == "broker:9093")
    assert(ro("kafka.group.id") == "dsp-consumer")
    assert(ro("subscribe") == "dev-test")

    val nb = cfg.northbound.head
    assert(nb.options == Map(
      "security.protocol" -> "SSL",
      "ssl.truststore.type" -> "PEM",
      "ssl.truststore.location" -> "/run/secrets/ca.pem"))
    import org.apache.spark.sql.functions._
    // writeStream needs a streaming Dataset; rate → envelope projection
    // (the writer is configured but never started — no broker needed)
    val envelope = spark.readStream
      .format("rate")
      .option("rowsPerSecond", "1")
      .load()
      .select(
        lit(null).cast("binary").as("key"),
        lit("t").as("subject"),
        map(lit("k"), lit("v")).as("properties"),
        col("value").cast("string").cast("binary").as("payload")
      )
    val writer = graft.streaming.StreamRuntime.kafkaSink(
      envelope, nb.address, "/tmp/ckpt-unused", nb.options)
    val wo = streamOptions(writer)
    assert(wo("kafka.ssl.truststore.location") == "/run/secrets/ca.pem")
    assert(wo("kafka.security.protocol") == "SSL")
    assert(wo("kafka.bootstrap.servers") == "broker:9093")
  }

  test("deploy/graft.yaml: the shipped deploy config parses and every enabled sink resolves") {
    val yaml = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("deploy/graft.yaml")), "UTF-8")
    val cfg = GraftService.parseConfig(yaml)
    assert(cfg.southbound.asInstanceOf[GraftService.TcpSouth].port == 7200)
    assert(cfg.northbound.map(_.name) == Seq("kafka-nb", "audit-nb"))
    assert(cfg.rules.map(_.destination) == Seq("kafka-nb", "kafka-nb", "audit-nb"))
    assert(cfg.metricsPort.contains(9555)) // interfaces.metrics.port reaches ServiceMain
    // ServiceMain's startup fail-fast: every enabled northbound must have
    // a factory (an unresolvable type must throw HERE, not at first batch)
    cfg.northbound.filter(_.enabled).foreach(graft.runtime.ServiceMain.productionSinkFactory)
    val bad = GraftService.Northbound("x", "memory", "", enabled = true)
    intercept[IllegalArgumentException](graft.runtime.ServiceMain.productionSinkFactory(bad))
    // the log sink is runnable brokerless
    graft.runtime.ServiceMain.productionSinkFactory(
      GraftService.Northbound("audit", "log", "", enabled = true)
    )(spark.range(3).toDF())

    // the ssl-profile config ships the documented Java-client TLS recipe
    // and cannot drift either
    val sslCfg = GraftService.parseConfig(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("deploy/graft-ssl.yaml")), "UTF-8"))
    val kafkaNb = sslCfg.northbound.find(_.name == "kafka-nb").get
    assert(kafkaNb.address == "kafka-ssl:9094")
    assert(kafkaNb.options("security.protocol") == "SSL")
    assert(kafkaNb.options("ssl.truststore.type") == "PEM")
    assert(kafkaNb.options("ssl.truststore.location") == "/etc/graft/ssl/ca.pem")
    assert(kafkaNb.options("ssl.keystore.location") == "/etc/graft/ssl/client.pem")
    sslCfg.northbound.filter(_.enabled).foreach(graft.runtime.ServiceMain.productionSinkFactory)
  }

  test("ServiceMain.startFromConfig: YAML file -> daemon with production sinks; metrics port precedence") {
    val yaml =
      """topic: sm-test
        |interfaces:
        |  southbound:
        |    type: sim
        |    clientId: 42
        |    rowsPerSecond: 50
        |  northbound:
        |    - {enabled: true, name: audit, type: log}
        |  metrics:
        |    enabled: true
        |    port: 0
        |""".stripMargin
    val p = java.nio.file.Files.createTempFile("graft-sm", ".yaml")
    java.nio.file.Files.writeString(p, yaml)
    // precedence is pure logic: env beats YAML beats the 9555 default
    val cfg = GraftService.parseConfig(yaml)
    assert(graft.runtime.ServiceMain.resolveMetricsPort(cfg, Map("GRAFT_METRICS_PORT" -> "7777")) == 7777)
    assert(graft.runtime.ServiceMain.resolveMetricsPort(cfg, Map.empty) == 0) // YAML port wins
    assert(graft.runtime.ServiceMain.resolveMetricsPort(cfg.copy(metricsPort = None), Map.empty) == 9555)
    val daemon = graft.runtime.ServiceMain.startFromConfig(spark, p.toString, env = Map.empty)
    try {
      // the sim southbound must flow through the production log sink and
      // the /metrics exposer must come up on the YAML-resolved (free) port
      val deadline = System.currentTimeMillis() + 30000
      def scrape(): String =
        try {
          val c = new java.net.URL(s"http://127.0.0.1:${daemon.metricsPort}/metrics").openConnection()
          val in = c.getInputStream
          try new String(in.readAllBytes(), "UTF-8")
          finally in.close()
        } catch { case _: java.io.IOException => "" }
      var body = scrape()
      while (!body.contains("process_messages_total") && System.currentTimeMillis() < deadline) {
        Thread.sleep(200); body = scrape()
      }
      assert(body.contains("process_messages_total"), s"metrics scrape missing counters:\n$body")
    } finally {
      daemon.stop()
      java.nio.file.Files.delete(p)
    }
    assert(daemon.isStopped && !daemon.query.isActive)
  }

  test("kafka passthrough: user option overrides a built-in default") {
    val reader = graft.streaming.StreamRuntime.kafkaSourceReader(
      spark, "b:9092", Seq("t"), None, None, Map("includeHeaders" -> "false"))
    assert(streamOptions(reader)("includeheaders") == "false")
  }

  test("YamlLite: block scalar lists and comments") {
    val n = YamlLite.parse(
      """topics: # inline comment
        |  - dev-test
        |  - dev-test-2
        |nested:
        |  inner: 'quoted # not a comment'
        |""".stripMargin
    )
    assert(n("topics").list.map(_.str) == Seq("dev-test", "dev-test-2"))
    assert(n("nested.inner").str == "quoted # not a comment")
  }

  test("northbound dedup block: YAML parses, sink sees each content exactly once across epochs") {
    import org.apache.spark.sql.functions._
    // parse: the dedup block rides any northbound entry
    // a not-yet-created subpath: the store materializes on first write
    // (an existing-but-empty dir reads as an empty store too — StreamDedup
    // reads with its declared store schema)
    val store =
      java.nio.file.Files.createTempDirectory("svc-dedup").toString + "/digests"
    def dedupConf(extra: String) = GraftService.parseConfig(
      s"""topic: t
         |interfaces:
         |  southbound:
         |    type: sim
         |  northbound:
         |    - name: curated
         |      type: log
         |      dedup:
         |        store: $store
         |        field: payload
         |$extra""".stripMargin
    ).northbound.head.dedup.get
    val d = dedupConf("")
    assert(d == GraftService.DedupConf(store, "payload"))
    // a config written for the retired Bloom knobs still parses, unchanged
    assert(dedupConf("        expectedItems: 1000\n        fpp: 0.01\n") == d)
    // the wrapper: within-batch copies collapse, cross-epoch re-ingests
    // drop against the store, replays are idempotent
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val sink = GraftService.wrapDedup(
      d,
      (batch, epoch) =>
        got.synchronized {
          got ++= batch.select(col("payload").cast("string")).collect().map(r => (epoch, r.getString(0)))
          ()
        }
    )
    def batchOf(payloads: String*) =
      spark
        .createDataFrame(payloads.map(p => Tuple1(p.getBytes("UTF-8"))))
        .toDF("payload")
    sink(batchOf("A", "A", "B"), 0L)
    assert(
      got.filter(_._1 == 0L).map(_._2).sorted == Seq("A", "B"),
      s"epoch 0 must collapse within-batch copies: $got"
    )
    sink(batchOf("A", "C"), 1L)
    assert(
      got.filter(_._1 == 1L).map(_._2) == Seq("C"),
      s"epoch 1 must drop the cross-epoch re-ingest: $got"
    )
    // replay of epoch 1 (foreachBatch retry contract): same survivors,
    // never deduped against its own first attempt
    sink(batchOf("A", "C"), 1L)
    assert(
      got.filter(_._1 == 1L).map(_._2) == Seq("C", "C"),
      s"epoch-1 replay must re-derive the same survivor set: $got"
    )
    // binary-safe digests: payloads that would collide under a lossy
    // binary→string cast stay distinct under the hex digest
    val b1 = Array[Byte](-1, -2, 0, 65)
    val b2 = Array[Byte](-2, -1, 0, 65)
    val binBatch = spark.createDataFrame(Seq(Tuple1(b1), Tuple1(b2))).toDF("payload")
    sink(binBatch, 2L)
    assert(got.count(_._1 == 2L) == 2, s"distinct binary payloads must both survive: $got")
    // normalization-colliding SAME-BATCH strings collapse to ONE delivery:
    // the within-batch collapse keys on the DIGEST (whitespace/case-
    // normalized), so the in-batch rule is the cross-epoch rule — before
    // r15, both copies survived the batch-local dropDuplicates(field) and
    // the sink delivered two rows for one content fingerprint
    val strBatch = spark
      .createDataFrame(Seq(Tuple1("Hello  World"), Tuple1("hello world"), Tuple1("other")))
      .toDF("payload")
    sink(strBatch, 3L)
    assert(
      got.count(_._1 == 3L) == 2,
      s"normalization-colliding strings must collapse in-batch: ${got.filter(_._1 == 3L)}"
    )
    // and cross-epoch: the surviving normalization class never re-delivers
    sink(spark.createDataFrame(Seq(Tuple1("HELLO WORLD"))).toDF("payload"), 4L)
    assert(got.count(_._1 == 4L) == 0, s"epoch 4 re-ingest must drop: ${got.filter(_._1 == 4L)}")
  }

  test("sim southbound: config-wired heartbeat simulator streams frames (O-4)") {
    val cfg = GraftService.parseConfig(
      """topic: hb-out
        |interfaces:
        |  southbound:
        |    type: sim
        |    clientId: 72
        |    rowsPerSecond: 50
        |  northbound:
        |    - {enabled: true, name: log-nb, type: log}
        |""".stripMargin
    )
    assert(cfg.southbound == GraftService.SimSouth(72L, 50))
    val received = new java.util.concurrent.atomic.AtomicLong(0)
    val clientIds = scala.collection.concurrent.TrieMap.empty[Long, Unit]
    val q = GraftService.start(
      spark,
      cfg,
      _ =>
        batch =>
          batch.collect().foreach { row =>
            received.incrementAndGet()
            val hb = decodeHeartbeat(decodeOne(row.getAs[Array[Byte]]("payload"), 0).get.body)
            clientIds.put(hb.clientId, ())
          }
    )
    try {
      val deadline = System.currentTimeMillis() + 20000
      while (received.get() < 5 && System.currentTimeMillis() < deadline) Thread.sleep(200)
      assert(received.get() >= 5, s"only ${received.get()} frames")
      assert(clientIds.keySet == Set(72L))
    } finally q.stop()
  }

  test("daemon lifecycle: /metrics served over HTTP; stop() leaves no dangling query, listener, or socket") {
    val cfg = GraftService.parseConfig(
      """topic: hb-out
        |interfaces:
        |  southbound:
        |    type: sim
        |    clientId: 72
        |    rowsPerSecond: 50
        |  northbound:
        |    - {enabled: true, name: log-nb, type: log}
        |""".stripMargin
    )
    val received = new java.util.concurrent.atomic.AtomicLong(0)
    val daemon = GraftService.startDaemon(
      spark,
      cfg,
      _ => batch => { received.addAndGet(batch.count()); () }
    )
    def scrapeHttp(): String = {
      val conn = new java.net.URL(s"http://127.0.0.1:${daemon.metricsPort}/metrics")
        .openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      try {
        assert(conn.getResponseCode == 200)
        assert(conn.getContentType.startsWith("text/plain"))
        new String(conn.getInputStream.readAllBytes(), "UTF-8")
      } finally conn.disconnect()
    }
    try {
      val deadline = System.currentTimeMillis() + 20000
      while (received.get() < 5 && System.currentTimeMillis() < deadline) Thread.sleep(200)
      assert(received.get() >= 5, s"only ${received.get()} rows")
      // progress events arrive async — poll the scrape until the counter shows
      var body = scrapeHttp()
      while (!body.contains("process_messages_total{query=") && System.currentTimeMillis() < deadline) {
        Thread.sleep(200); body = scrapeHttp()
      }
      assert(body.contains("process_messages_total{query="), s"scrape missing counter:\n$body")
      assert(body.contains("batch_count{query="))
    } finally daemon.stop()

    // clean teardown: query gone, listener detached, scrape socket closed
    assert(!daemon.query.isActive)
    assert(!spark.streams.active.map(_.id).contains(daemon.query.id))
    intercept[java.io.IOException] {
      val conn = new java.net.URL(s"http://127.0.0.1:${daemon.metricsPort}/metrics")
        .openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      conn.setConnectTimeout(2000)
      conn.getResponseCode
    }
    // stop() is idempotent
    daemon.stop()
  }

  test("exposed metrics bind (GRAFT_METRICS_BIND analog) splits /reload onto a loopback-only server") {
    def simYaml(clientId: Long) =
      s"""topic: hb-out
         |interfaces:
         |  southbound:
         |    type: sim
         |    clientId: $clientId
         |    rowsPerSecond: 50
         |  northbound:
         |    - {enabled: true, name: log-nb, type: log}
         |""".stripMargin
    val daemon = GraftService.startDaemon(
      spark,
      GraftService.parseConfig(simYaml(72L)),
      _ => batch => { batch.count(); () },
      metricsBind = Some("0.0.0.0")
    )
    try {
      // the scrape is exposed, the mutating endpoint is NOT co-hosted
      assert(daemon.oamPort != daemon.metricsPort, "exposed bind must move /reload off the metrics server")
      val m = new java.net.URL(s"http://127.0.0.1:${daemon.metricsPort}/metrics")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      try assert(m.getResponseCode == 200)
      finally m.disconnect()
      val notHere = new java.net.URL(s"http://127.0.0.1:${daemon.metricsPort}/reload")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      notHere.setRequestMethod("POST")
      notHere.setDoOutput(true)
      notHere.getOutputStream.write(simYaml(99L).getBytes("UTF-8"))
      try assert(notHere.getResponseCode == 404, "/reload must not ride the exposed server")
      finally notHere.disconnect()
      // /reload works on the loopback-only OAM server
      val post = new java.net.URL(s"http://127.0.0.1:${daemon.oamPort}/reload")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      post.setRequestMethod("POST")
      post.setDoOutput(true)
      post.getOutputStream.write(simYaml(99L).getBytes("UTF-8"))
      try assert(post.getResponseCode == 200)
      finally post.disconnect()
      assert(daemon.currentConfig == GraftService.parseConfig(simYaml(99L)))
    } finally daemon.stop()
  }

  test("config reload restarts the query in place; metrics and exposer survive the swap") {
    def simYaml(clientId: Long) =
      s"""topic: hb-out
         |interfaces:
         |  southbound:
         |    type: sim
         |    clientId: $clientId
         |    rowsPerSecond: 50
         |  northbound:
         |    - {enabled: true, name: log-nb, type: log}
         |""".stripMargin
    def simCfg(clientId: Long) = GraftService.parseConfig(simYaml(clientId))
    val clientIds = scala.collection.concurrent.TrieMap.empty[Long, Unit]
    val daemon = GraftService.startDaemon(
      spark,
      simCfg(72L),
      nb => {
        if (nb.tpe == "rejected-by-factory")
          throw new IllegalArgumentException(s"unknown northbound type '${nb.tpe}'")
        batch =>
          batch.collect().foreach { row =>
            val hb = decodeHeartbeat(decodeOne(row.getAs[Array[Byte]]("payload"), 0).get.body)
            clientIds.put(hb.clientId, ())
          }
      }
    )
    // each stage gets its OWN deadline: a shared one starves the later
    // reload waits when the box is loaded (full-suite timing flake)
    def await(cond: => Boolean): Unit = {
      val d = System.currentTimeMillis() + 20000
      while (!cond && System.currentTimeMillis() < d) Thread.sleep(200)
    }
    try {
      val firstQuery = daemon.query
      await(clientIds.contains(72L))
      assert(clientIds.keySet == Set(72L))

      val secondQuery = daemon.reload(simCfg(99L))
      assert(!firstQuery.isActive && secondQuery.isActive && (daemon.query eq secondQuery))
      await(clientIds.contains(99L))
      assert(clientIds.keySet == Set(72L, 99L))

      // HTTP OAM: POST a raw YAML config to /reload → third restart in
      // place (the reference's svc/main.cpp:203-230 endpoint, live here)
      val post = new java.net.URL(s"http://127.0.0.1:${daemon.metricsPort}/reload")
        .openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      post.setRequestMethod("POST")
      post.setDoOutput(true)
      post.getOutputStream.write(simYaml(123L).getBytes("UTF-8"))
      try assert(post.getResponseCode == 200)
      finally post.disconnect()
      assert((daemon.query ne secondQuery) && daemon.query.isActive && !secondQuery.isActive)
      assert(daemon.currentConfig == simCfg(123L))
      await(clientIds.contains(123L))
      assert(clientIds.contains(123L))

      // a malformed config answers 500 and leaves the current query running
      val bad = new java.net.URL(s"http://127.0.0.1:${daemon.metricsPort}/reload")
        .openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      bad.setRequestMethod("POST")
      bad.setDoOutput(true)
      bad.getOutputStream.write("interfaces:\n  southbound:\n    type: bogus\n".getBytes("UTF-8"))
      try assert(bad.getResponseCode == 500)
      finally bad.disconnect()
      assert(daemon.query.isActive)

      // exposer survived the swap and reports the new query's counters
      val conn = new java.net.URL(s"http://127.0.0.1:${daemon.metricsPort}/metrics")
        .openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      try assert(conn.getResponseCode == 200)
      finally conn.disconnect()
      // a config whose pipeline fails to START revives the previous one:
      // the sink factory rejects the unknown northbound type synchronously,
      // and the daemon must come back up on the old config
      val beforeBad = daemon.currentConfig
      val badStart = GraftService.parseConfig(
        simYaml(123L).replace("type: log", "type: rejected-by-factory")
      )
      intercept[IllegalArgumentException](daemon.reload(badStart))
      assert(daemon.query.isActive && daemon.currentConfig == beforeBad)
    } finally daemon.stop()
    assert(!daemon.query.isActive)
    intercept[IllegalArgumentException](daemon.reload(simCfg(1L)))
  }

  test("grafana dashboard twin: every panel metric is live on a real /metrics scrape") {
    // res/grafana-dashboard-graft.json is the twin of the reference's
    // res/grafana-dashboard-dsp.json; its panels must scrape only metric
    // names the engine actually exposes — parse every target expr and
    // demand each name on a LIVE scrape of a running TCP-ingress daemon
    val dash = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("res/grafana-dashboard-graft.json")),
      "UTF-8"
    )
    val metricNames = "\"expr\":\\s*\"(?:rate\\()?([a-zA-Z_][a-zA-Z0-9_]*)".r
      .findAllMatchIn(dash)
      .map(_.group(1))
      .toSet
    assert(metricNames.size >= 10, s"dashboard parse found too few metrics: $metricNames")

    val port = { val s = new ServerSocket(0); try s.getLocalPort finally s.close() }
    val cfg = GraftService.parseConfig(
      s"""topic: dash-test
         |interfaces:
         |  southbound:
         |    type: tcp
         |    port: $port
         |  northbound:
         |    - {enabled: true, name: dash-nb, type: log}
         |""".stripMargin
    )
    val daemon = GraftService.startDaemon(spark, cfg, _ => batch => { batch.count(); () })
    def scrapeHttp(): String = {
      val conn = new java.net.URL(s"http://127.0.0.1:${daemon.metricsPort}/metrics")
        .openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      try new String(conn.getInputStream.readAllBytes(), "UTF-8")
      finally conn.disconnect()
    }
    try {
      Thread.sleep(300)
      val deadline = System.currentTimeMillis() + 20000
      var missing = metricNames
      while (missing.nonEmpty && System.currentTimeMillis() < deadline) {
        // keep traffic flowing so rate gauges get real (non-NaN) values
        val sock = new Socket("127.0.0.1", port)
        sock.getOutputStream.write(encodeHeartbeat(Heartbeat(72, 0, 1L)))
        sock.close()
        Thread.sleep(300)
        val body = scrapeHttp()
        missing = metricNames.filterNot(body.contains)
      }
      assert(missing.isEmpty, s"dashboard metrics absent from live scrape: $missing")
    } finally daemon.stop()
  }

  test("wrapDedup: whitespace/case variants in one batch deliver one row; a replayed epoch delivers the same one") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("svc-dedup-norm").toString + "/digests"
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val sink = GraftService.wrapDedup(
      GraftService.DedupConf(store),
      (batch, epoch) => got.synchronized { got ++= batch.as[String].collect().map(epoch -> _); () }
    )
    // five spellings of one content over several partitions, plus one other
    val batch = Seq("Hello  World", "hello world", " HELLO WORLD", "other", "Hello World\t", "hello   WORLD")
      .toDF("payload")
    sink(batch, 0L)
    val first = got.filter(_._1 == 0L).map(_._2)
    assert(first.size == 2 && first.contains("other"), s"one row per content: $first")
    sink(batch, 0L)
    assert(got.filter(_._1 == 0L).map(_._2).sorted == (first ++ first).sorted, s"replay diverged: $got")
    sink(Seq("HELLO world", "new").toDF("payload"), 1L)
    assert(got.filter(_._1 == 1L).map(_._2) == Seq("new"), s"cross-epoch variant re-delivered: $got")
  }

  test("service job budget of a warm delivered epoch: a plain and a dedup'd collecting sink") {
    val port = { val s = new ServerSocket(0); try s.getLocalPort finally s.close() }
    val store = java.nio.file.Files.createTempDirectory("svc-budget").toString + "/digests"
    val cfg = GraftService.parseConfig(
      s"""topic: dev-test
         |interfaces:
         |  southbound:
         |    type: tcp
         |    port: $port
         |  northbound:
         |    - name: main-nb
         |      type: memory
         |    - name: audit-nb
         |      type: memory
         |      dedup:
         |        store: $store
         |rules:
         |  - name: dyn
         |    priority: 1
         |    condition: {field: type, value: dyn_message, matcher: exact}
         |    action: allow
         |    destination: main-nb
         |    subject: events
         |  - name: mirror
         |    priority: 2
         |    condition: {field: '*', value: '*'}
         |    action: allow
         |    destination: audit-nb
         |    subject: all
         |""".stripMargin
    )
    val rows = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val jobs = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Integer]()
    @volatile var runId = ""
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties)
          .filter(p => p.getProperty("spark.jobGroup.id") == runId)
          .flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
          .foreach { b => jobs.merge(b.toLong, 1, (x: Integer, y: Integer) => x + y); () }
    }
    spark.sparkContext.addSparkListener(listener)
    val q = GraftService.startBatches(
      spark,
      cfg,
      nb => (batch, _) => { rows.merge(nb.name, batch.collect().length.toLong, (x: java.lang.Long, y: java.lang.Long) => x + y); () }
    )
    runId = q.runId.toString
    try {
      Thread.sleep(300)
      // 4 rounds of 400 frames over 300 payloads, half of each round's
      // payloads seen in the round before
      (0 until 4).foreach { round =>
        val sock = new Socket("127.0.0.1", port)
        sock.getOutputStream.write((0 until 400).flatMap { i =>
          encodeFrame(TypeDynMessage, s"frame ${i % 300 + round * 150}".getBytes("UTF-8")).toSeq
        }.toArray)
        sock.close()
        val deadline = System.currentTimeMillis() + 30000
        while (rows.getOrDefault("main-nb", 0L) < 400L * (round + 1) && System.currentTimeMillis() < deadline) {
          q.processAllAvailable()
          Thread.sleep(50)
        }
        assert(rows.getOrDefault("main-nb", 0L) == 400L * (round + 1), s"round $round: $rows")
      }
      q.processAllAvailable()
      // every payload delivered once at the dedup'd sink
      assert(rows.get("audit-nb") == 300L + 3 * 150L, s"$rows")
    } finally {
      q.stop()
      org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext, 10000L)
      spark.sparkContext.removeSparkListener(listener)
    }
    val perBatch = jobs.asScala.toSeq.sortBy(_._1).map(_._2.intValue)
    info(s"jobs per delivered micro-batch: ${perBatch.mkString(", ")}")
    assert(perBatch.size >= 2, s"expected several delivered batches: $perBatch")
    // warm: every batch after the first
    assert(perBatch.tail.max <= 4, s"a warm delivered epoch fired ${perBatch.tail.max} jobs (budget 4): $perBatch")
  }

  test("a warm service micro-batch leaves the session CacheManager empty, during it and after it") {
    val port = { val s = new ServerSocket(0); try s.getLocalPort finally s.close() }
    val store = java.nio.file.Files.createTempDirectory("svc-no-cache").toString + "/digests"
    val cfg = GraftService.parseConfig(
      s"""topic: dev-test
         |interfaces:
         |  southbound:
         |    type: tcp
         |    port: $port
         |  northbound:
         |    - name: main-nb
         |      type: memory
         |    - name: audit-nb
         |      type: memory
         |      dedup:
         |        store: $store
         |rules:
         |  - name: mirror
         |    priority: 1
         |    condition: {field: '*', value: '*'}
         |    action: allow
         |    destination: '*'
         |    subject: all
         |""".stripMargin
    )
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    // caches other specs of this shared session left behind
    spark.catalog.clearCache()
    val rows = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val cachedDuring = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = GraftService.startBatches(
      spark,
      cfg,
      nb => (batch, _) => {
        // the fan-out's cached batch is live here, and so is dedupBatch's
        // cached rows in audit-nb's delivery
        if (!cacheManager.isEmpty) cachedDuring.incrementAndGet()
        rows.merge(nb.name, batch.collect().length.toLong, (x: java.lang.Long, y: java.lang.Long) => x + y)
        ()
      }
    )
    try {
      Thread.sleep(300)
      (0 until 2).foreach { round =>
        val sock = new Socket("127.0.0.1", port)
        sock.getOutputStream.write((0 until 200).flatMap { i =>
          encodeFrame(TypeDynMessage, s"frame ${i % 150 + round * 100}".getBytes("UTF-8")).toSeq
        }.toArray)
        sock.close()
        val deadline = System.currentTimeMillis() + 30000
        while (rows.getOrDefault("main-nb", 0L) < 200L * (round + 1) && System.currentTimeMillis() < deadline) {
          q.processAllAvailable()
          Thread.sleep(50)
        }
      }
      q.processAllAvailable()
      assert(rows.get("main-nb") == 400L && rows.get("audit-nb") == 150L + 100L, s"$rows")
    } finally q.stop()
    assert(cachedDuring.get == 0, s"${cachedDuring.get} sink calls saw a CacheManager entry")
    assert(cacheManager.isEmpty, "a CacheManager entry outlived the micro-batches")
  }

  test("service lifecycle: config → TCP ingress → router → per-destination fan-out") {
    val port = { val s = new ServerSocket(0); try s.getLocalPort finally s.close() }
    val cfg = GraftService.parseConfig(fixtureYaml.replace("%PORT%", port.toString))
    assert(cfg.rules.length == 2 && cfg.northbound.length == 2)

    val received = scala.collection.concurrent.TrieMap.empty[String, Vector[String]]
    val q = GraftService.start(
      spark,
      cfg,
      nb =>
        batch => {
          val subjects = batch.collect().map(_.getAs[String]("subject")).toVector
          received.updateWith(nb.name)(v => Some(v.getOrElse(Vector.empty) ++ subjects))
        }
    )
    try {
      Thread.sleep(300)
      val sock = new Socket("127.0.0.1", port)
      sock.getOutputStream.write(
        encodeHeartbeat(Heartbeat(72, 0, 1L)) ++
          encodeFrame(TypeDynMessage, "payload".getBytes("UTF-8"))
      )
      sock.close()
      val deadline = System.currentTimeMillis() + 15000
      while (
        (received.getOrElse("main-nb", Vector.empty).length < 1 ||
          received.getOrElse("audit-nb", Vector.empty).length < 2) &&
        System.currentTimeMillis() < deadline
      ) {
        q.processAllAvailable()
        Thread.sleep(100)
      }
      // main-nb gets only the allowed heartbeat; audit-nb mirrors everything
      assert(received("main-nb") == Vector("heartbeats"))
      assert(received("audit-nb").sorted == Vector("all", "all"))
    } finally q.stop()
  }
}
