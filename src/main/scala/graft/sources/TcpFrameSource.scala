package graft.sources

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.io.InputStream
import java.net.{ServerSocket, Socket}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer

import graft.model.Telemetry

/** Custom DSv2 micro-batch source: the reference's TCP byte-stream ingress
  * (O-3, libdsp/libdsp/tcp.cpp:43-201) as a Structured Streaming source —
  * the one genuinely novel runtime piece of the port (SURVEY.md §4.3).
  *
  * Usage: `spark.readStream.format("graft-tcp").option("port", p).load()`
  * yields rows `(conn_id int, msg_type int, payload binary)`, one per
  * decoded `[u16 len][u16 type][body]` frame.
  *
  * Design notes:
  *   - One listener thread per bound port accepts connections; each
  *     connection gets its own reader thread with a PRIVATE
  *     [[Telemetry.StreamDecoder]] — per-connection framing state with
  *     cross-chunk carry-over, exactly the reference's per-connection
  *     handler isolation (doc/test.adoc:51-53, tcp.cpp:102-154).
  *   - Decoded frames land in a driver-side log; offsets are log indices.
  *     Micro-batch planning slices [start, end) into partitions that CARRY
  *     their rows (the same layout as Spark's own socket source): correct
  *     on a cluster, and appropriate here because a TCP ingress is a
  *     single-box protocol by nature — the reference allows exactly one
  *     southbound interface (doc/user-guide.adoc:75-76). The 100 TB scale
  *     path is the Kafka source; the reference itself treats TCP as PoC
  *     (doc/user-guide.adoc:19-21).
  *   - `commit(offset)` garbage-collects acknowledged frames.
  */
class TcpFrameSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-tcp"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TcpFrameSource.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]
  ): Table = new TcpFrameTable(
    properties.get("port").toInt,
    Option(properties.get("maxFramesPerTrigger")).map(_.toLong),
    Option(properties.get("maxBufferedBytes")).map(_.toLong)
  )
}

object TcpFrameSource {
  val schema: StructType = StructType(
    Seq(
      StructField("conn_id", IntegerType),
      StructField("msg_type", IntegerType),
      StructField("payload", BinaryType)
    )
  )
}

private[sources] class TcpFrameTable(
    port: Int,
    maxFramesPerTrigger: Option[Long],
    maxBufferedBytes: Option[Long]
) extends Table
    with SupportsRead {
  override def name(): String = s"graft-tcp:$port"
  override def schema(): StructType = TcpFrameSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = TcpFrameSource.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new TcpFrameStream(port, maxFramesPerTrigger, maxBufferedBytes, Some(checkpointLocation))
      }
    }
}

/** O-14 load-shed accounting for the TCP ingress, the reference's
  * drop-on-full counter surface (`drop_messages_total{drop_type=load_shed}`,
  * kafka.hpp:684-696 try_send + svc/handler.cpp:142-166): per-port counters
  * of frames/bytes dropped because the buffer cap was hit. A registry
  * object (not per-stream state) so services, tests, and scrapes can read
  * it without holding the stream.
  */
object TcpShedMetrics {
  private val frames = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.LongAdder]()
  private val bytes = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.LongAdder]()
  // receive_* counts everything DECODED off the wire (admitted + shed) —
  // the reference's receive_messages_total / receive_bytes_total
  // (svc/handler.cpp counter names, scraped by the Grafana dashboard's
  // rate() panels); drop_* below is the shed subset
  private val rxFrames = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.LongAdder]()
  private val rxBytes = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.LongAdder]()
  /** Live per-port gauges supplied by the running stream: (open
    * connections, buffered bytes, configured buffer capacity) — the
    * reference's `connection_count` / `tcp_buffer_size` /
    * `tcp_buffer_capacity` observable surface (interfaces.hpp:184-188,
    * svc/main.cpp:67-78). Registered at stream construction, dropped on
    * stop, so a dead stream scrapes no stale numbers. Capacity lives
    * INSIDE the entry so registration/unregistration is one atomic map
    * operation — a separate capacities map let a stopping stream's
    * remove interleave with a replacement stream's put and strip the new
    * stream's capacity while its gauges stayed registered.
    */
  private val gauges =
    new java.util.concurrent.ConcurrentHashMap[Int, (() => Int, () => Long, Long)]()
  private def adder(m: java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.LongAdder], port: Int) =
    m.computeIfAbsent(port, _ => new java.util.concurrent.atomic.LongAdder)
  private[sources] def record(port: Int, nFrames: Int, nBytes: Int): Unit = {
    adder(frames, port).add(nFrames.toLong)
    adder(bytes, port).add(nBytes.toLong)
  }
  private[sources] def recordReceived(port: Int, nFrames: Int, nBytes: Int): Unit = {
    adder(rxFrames, port).add(nFrames.toLong)
    adder(rxBytes, port).add(nBytes.toLong)
  }
  private[sources] def registerGauges(
      port: Int,
      connections: () => Int,
      buffered: () => Long,
      capacity: Long
  ): (() => Int, () => Long, Long) = {
    val entry = (connections, buffered, capacity)
    gauges.put(port, entry)
    entry
  }
  /** Conditional removal: only the entry the caller registered — a
    * stopping stream must not strip gauges (or the capacity riding in the
    * same entry) that a replacement stream on the same port already
    * registered.
    */
  private[sources] def unregisterGauges(port: Int, entry: (() => Int, () => Long, Long)): Unit = {
    gauges.remove(port, entry)
    ()
  }
  def shedFrames(port: Int): Long = Option(frames.get(port)).map(_.sum()).getOrElse(0L)
  def shedBytes(port: Int): Long = Option(bytes.get(port)).map(_.sum()).getOrElse(0L)
  def receivedFrames(port: Int): Long = Option(rxFrames.get(port)).map(_.sum()).getOrElse(0L)
  def receivedBytes(port: Int): Long = Option(rxBytes.get(port)).map(_.sum()).getOrElse(0L)
  def connectionCount(port: Int): Int = Option(gauges.get(port)).map(_._1()).getOrElse(0)
  def bufferSize(port: Int): Long = Option(gauges.get(port)).map(_._2()).getOrElse(0L)
  def bufferCapacity(port: Int): Long = Option(gauges.get(port)).map(_._3).getOrElse(0L)
  /** Prometheus text lines for a port (appended to a /metrics scrape). */
  def scrape(port: Int): String =
    s"""receive_messages_total{port="$port"} ${receivedFrames(port)}
       |receive_bytes_total{port="$port"} ${receivedBytes(port)}
       |drop_messages_total{drop_type="load_shed",port="$port"} ${shedFrames(port)}
       |drop_bytes_total{drop_type="load_shed",port="$port"} ${shedBytes(port)}
       |connection_count{port="$port"} ${connectionCount(port)}
       |tcp_buffer_size{port="$port"} ${bufferSize(port)}
       |tcp_buffer_capacity{port="$port"} ${bufferCapacity(port)}
       |""".stripMargin
}

private[sources] case class FrameOffset(index: Long) extends Offset {
  override def json(): String = index.toString
}

/** Driver-local zero-copy chunk handoff. In local mode every task runs in
  * the driver JVM, yet chunks embedded in partition descriptors still pay
  * a full serialize→broadcast→deserialize round-trip per micro-batch —
  * for a backlogged trigger that is hundreds of MB of memcpy+LZ4 on the
  * single-threaded driver path, and it was the binding constraint that
  * made 4 partitions beat 32 in round 2. Registering the planned chunk
  * arrays here and shipping only (planId, partition#) in the descriptor
  * hands tasks the SAME arrays by reference: zero copies, and partition
  * fan-out becomes free (so batches can use the session's full
  * parallelism). Entries live from `planInputPartitions` until `commit`
  * (or `stop`), so task retries inside a batch still resolve; the chunks
  * themselves are the very objects in the stream's log — no duplication.
  * Cluster mode (remote executors) keeps the serialized-descriptor path:
  * this registry is only consulted when the stream planned the batch in
  * the same JVM and `SparkContext.isLocal` said tasks stay here too.
  */
private[sources] object TcpChunkHandoff {
  private val plans =
    new java.util.concurrent.ConcurrentHashMap[Long, Array[Array[FrameChunk]]]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0L)
  def register(parts: Array[Array[FrameChunk]]): Long = {
    val id = ids.getAndIncrement()
    plans.put(id, parts)
    id
  }
  def get(planId: Long, part: Int): Array[FrameChunk] = {
    val p = plans.get(planId)
    require(p != null, s"graft-tcp handoff plan $planId is gone (already committed?)")
    p(part)
  }
  def release(planId: Long): Unit = {
    plans.remove(planId)
    ()
  }
}

/** One decoded network read, packed: frame i of the chunk is
  * `blob[offs(i) until offs(i+1))` with type `types(i)`. Packing matters:
  * partition descriptors are Java-serialized per task, and one big
  * `Array[Byte]` serializes at memcpy speed where a million small
  * per-frame objects bottleneck the batch (measured 20x difference at
  * 200-byte frames).
  */
private[sources] final case class FrameChunk(
    conn: Int,
    types: Array[Int],
    offs: Array[Int],
    blob: Array[Byte]
) {
  def frames: Int = types.length
}

/** Driver-side chunk log + listener; offsets are monotone CHUNK indices
  * (batches align to network-read boundaries — valid for a source that
  * defines its own offsets, and keeps planning O(#chunks)).
  * `maxFramesPerTrigger` is the admission-control twin of the reference's
  * southbound `batchSize` (dsp.hpp:217-221) / Kafka maxOffsetsPerTrigger:
  * latestOffset stops advancing once a trigger would exceed the cap.
  */
private[sources] object TcpFrameStream {
  /** Default ingress buffer cap for a bare `format("graft-tcp")` stream:
    * 256 MB. Without it a stalled/lagging sink grows the driver-side chunk
    * log without bound — the exact lag-driven driver OOM the O-14
    * drop-on-full work closes, which an unbounded DEFAULT would leave
    * reachable on the path users hit first. Over-cap chunks are shed and
    * counted in [[TcpShedMetrics]] (`drop_messages_total` on /metrics),
    * never silently. Override per stream with `.option("maxBufferedBytes",
    * n)` (GraftService wires YAML `bufferLimit` to it); tests can shrink
    * the default via -Dgraft.tcp.defaultBufferBytes.
    */
  val DefaultMaxBufferedBytes: Long = 256L << 20
  def defaultBufferCap: Long =
    java.lang.Long.getLong("graft.tcp.defaultBufferBytes", DefaultMaxBufferedBytes)

  /** The largest offset this source ever planned, read from the query's
    * offset write-ahead log — 0 for a fresh query. `sourceDir` is the
    * `<checkpoint>/sources/<id>` path the engine hands to
    * `toMicroBatchStream`; the offset log lives at `<checkpoint>/offsets`,
    * one file per batch: line 0 a version tag, line 1 stream metadata,
    * then one offset line per source in source-id order.
    */
  private[sources] def restoredOffset(sourceDir: String): Long =
    try {
      val src = new org.apache.hadoop.fs.Path(sourceDir)
      val sourceId = scala.util.Try(src.getName.toInt).getOrElse(0)
      val offsets = new org.apache.hadoop.fs.Path(src.getParent.getParent, "offsets")
      val conf =
        try org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()
        catch { case _: Throwable => new org.apache.hadoop.conf.Configuration() }
      val fs = offsets.getFileSystem(conf)
      if (!fs.exists(offsets)) 0L
      else {
        val batches = fs
          .listStatus(offsets)
          .map(_.getPath.getName)
          .flatMap(n => scala.util.Try(n.toLong).toOption)
        if (batches.isEmpty) 0L
        else {
          val latest = new org.apache.hadoop.fs.Path(offsets, batches.max.toString)
          val in = fs.open(latest)
          val lines =
            try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
            finally in.close()
          lines
            .drop(2 + sourceId)
            .headOption
            .flatMap(l => scala.util.Try(l.trim.toLong).toOption)
            .getOrElse(0L)
        }
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"[graft-tcp] could not read restored offset from $sourceDir: $e")
        0L
    }
}

private[sources] class TcpFrameStream(
    port: Int,
    maxFramesPerTrigger: Option[Long] = None,
    maxBufferedBytes: Option[Long] = None,
    checkpointLocation: Option[String] = None
) extends MicroBatchStream {

  private var lastPlannedEnd = 0L // chunk index of the previous batch end
  private var bufferedBytes = 0L // blob bytes currently in `log` (guarded by log lock)
  // resolved once at construction: explicit option, else the bounded
  // 256 MB default (never unbounded — see TcpFrameStream.defaultBufferCap)
  private val bufferCap = maxBufferedBytes.getOrElse(TcpFrameStream.defaultBufferCap)

  // Restart semantics: a TCP stream is NOT replayable (like Spark's own
  // socket source) — frames buffered before a crash are gone. On restart
  // the checkpoint hands back an offset larger than the fresh in-memory
  // log; `shift` re-bases logical offsets so the OLDEST frame of this
  // incarnation lands AT the restored offset: frames a fast client
  // delivers from the moment the socket binds stay addressable (mapping
  // them BELOW the restored offset silently trims them as already
  // consumed), the unreplayable pre-crash gap is empty batches, and
  // offsets are positional, never content-addressed.
  //
  // The re-base CANNOT ride `deserializeOffset`: MicroBatchExecution
  // compares offsets as JSON and only materializes typed offsets once it
  // decides to construct a batch — when the fresh log's un-re-based head
  // happens to EQUAL the restored offset (same chunk count across
  // incarnations: common, chunking follows the same 64 KB socket reads),
  // the engine sees "no new data" forever and never calls
  // deserializeOffset at all, swallowing everything this incarnation
  // buffered (ChaosSoakSpec cycle-2 flake, round 6). So the restored
  // offset is read HERE, at construction, straight from the query's
  // offset write-ahead log (`toMicroBatchStream` hands us
  // `<ckpt>/sources/<id>`; the log lives at `<ckpt>/offsets`) — the
  // re-base is in place before the engine's first call, whatever order
  // the calls come in. `deserializeOffset` keeps a max() re-base as a
  // second line of defense.
  private var shift = checkpointLocation.map(TcpFrameStream.restoredOffset).getOrElse(0L)
  private def logicalHead: Long = shift + trimmed + log.length

  private val log = ArrayBuffer.empty[FrameChunk]
  private var trimmed = 0L // chunks GC'd from the head of `log`
  private val connIds = new AtomicInteger(0)
  @volatile private var running = true

  private val server = new ServerSocket(port)

  private def pack(conn: Int, frames: Seq[Telemetry.Frame]): FrameChunk = {
    val n = frames.length
    val types = new Array[Int](n)
    val offs = new Array[Int](n + 1)
    var total = 0
    var i = 0
    frames.foreach { f =>
      types(i) = f.msgType
      offs(i) = total
      total += f.body.length
      i += 1
    }
    offs(n) = total
    val blob = new Array[Byte](total)
    i = 0
    frames.foreach { f =>
      System.arraycopy(f.body, 0, blob, offs(i), f.body.length)
      i += 1
    }
    FrameChunk(conn, types, offs, blob)
  }

  private val openConnections = new AtomicInteger(0)

  private def readLoop(socket: Socket, conn: Int): Unit = {
    openConnections.incrementAndGet()
    try {
      val decoder = new Telemetry.StreamDecoder // per-connection framing state
      val in: InputStream = socket.getInputStream // inside try: may throw on a racing close
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (running && n >= 0 && decoder.failure.isEmpty) {
        if (n > 0) {
          // feed returns the frames decoded BEFORE any poison offset and
          // records the FramingException in decoder.failure — good frames
          // in a chunk whose tail is garbage are buffered below before the
          // loop condition drops the connection
          val frames = decoder.feed(java.util.Arrays.copyOf(buf, n))
          if (frames.nonEmpty) {
            val chunk = pack(conn, frames)
            TcpShedMetrics.recordReceived(port, chunk.frames, chunk.blob.length)
            // O-14 drop-on-full: with a buffer cap, an over-cap chunk is
            // SHED (dropped + counted), never buffered — the try_send
            // semantics of the reference (kafka.hpp:684-696) applied to
            // the ingress buffer, and the bound that keeps the driver-side
            // log from growing without limit when downstream lags.
            log.synchronized {
              if (bufferedBytes + chunk.blob.length > bufferCap) {
                TcpShedMetrics.record(port, chunk.frames, chunk.blob.length)
              } else {
                log += chunk
                bufferedBytes += chunk.blob.length
              }
              ()
            }
          }
        }
        // a poisoned decoder means this connection is already condemned —
        // close it NOW rather than blocking in read() waiting for a peer
        // that sent one bad header and then went silent (that would pin
        // the connection and its reader thread indefinitely)
        n = if (decoder.failure.isDefined) -1 else in.read(buf)
      }
      // a peer sending garbage lengths is dropped (no resync point in a
      // length-prefixed stream); every frame decoded before the poison
      // offset — including ones earlier in the same chunk — was delivered
      decoder.failure.foreach(e =>
        System.err.println(s"[graft-tcp:$port] dropping conn $conn: ${e.getMessage}")
      )
    } catch {
      case _: java.io.IOException => () // connection reset = close
    } finally {
      openConnections.decrementAndGet()
      socket.close()
    }
  }

  // reference observability gauges (connection_count / tcp_buffer_size)
  private val gaugeEntry = TcpShedMetrics.registerGauges(
    port,
    () => openConnections.get(),
    () => log.synchronized(bufferedBytes),
    bufferCap
  )

  private val acceptThread = new Thread(() => {
    try {
      while (running) {
        val socket = server.accept()
        val conn = connIds.getAndIncrement()
        val t = new Thread(() => readLoop(socket, conn), s"graft-tcp-conn-$conn")
        t.setDaemon(true)
        t.start()
      }
    } catch { case _: java.io.IOException => () } // server closed
  }, s"graft-tcp-accept-$port")
  acceptThread.setDaemon(true)
  acceptThread.start()

  override def initialOffset(): Offset = FrameOffset(0L)
  override def latestOffset(): Offset = log.synchronized {
    val head = logicalHead
    maxFramesPerTrigger match {
      case None => FrameOffset(head)
      case Some(cap) =>
        // admit whole chunks until the frame budget is spent
        var idx = math.max(lastPlannedEnd, shift + trimmed)
        var budget = cap
        while (idx < head && budget > 0) {
          val frames = log((idx - shift - trimmed).toInt).frames
          if (frames <= budget || budget == cap) { budget -= frames; idx += 1 }
          else budget = 0
        }
        FrameOffset(idx)
    }
  }
  override def deserializeOffset(json: String): Offset = log.synchronized {
    val v = json.toLong
    // Belt-and-braces re-base: the authoritative anchor is read from the
    // offset write-ahead log at construction (see `shift` above — the
    // engine may never call this method at all), but if the engine hands
    // us a LARGER restored offset than the construction-time read saw
    // (e.g. an offsets/ write racing the read), anchor to it — guarded to
    // pre-first-plan so a planned batch's offsets are never reinterpreted.
    if (lastPlannedEnd == 0L) shift = math.max(shift, v - trimmed)
    FrameOffset(v)
  }

  // handoff plan ids registered for in-flight batches (released on commit/stop)
  private val activePlans = ArrayBuffer.empty[Long]

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s0 = start.asInstanceOf[FrameOffset].index
    val e0 = end.asInstanceOf[FrameOffset].index
    lastPlannedEnd = e0
    val chunks = log.synchronized {
      val s = math.max(s0 - shift - trimmed, 0L).toInt
      val e = math.max(e0 - shift - trimmed, 0L).toInt
      log.slice(s, e).toArray
    }
    // Split by BYTES, not chunk count, for balanced tasks. Two handoff
    // modes: in local mode tasks receive the chunk arrays BY REFERENCE via
    // [[TcpChunkHandoff]] (zero-copy — see its scaladoc for why this is
    // the binding constraint), and the fan-out is the session's full
    // parallelism so decoding runs on every core. With remote executors
    // the chunks ride serialized inside the partition descriptors (the
    // layout of Spark's own socket source) — correct on a cluster, where
    // this single-box ingress is the PoC path anyway (the 100 TB ingress
    // is Kafka; doc/user-guide.adoc:19-21, 75-76).
    val (isLocal, defaultPar) =
      try {
        val sc = org.apache.spark.sql.SparkSession.active.sparkContext
        (sc.isLocal, sc.defaultParallelism)
      } catch { case _: Throwable => (false, 8) }
    val totalBytes = chunks.map(_.blob.length.toLong).sum
    val targetParts = if (isLocal) defaultPar else 8
    val budget = math.max(1L, totalBytes / targetParts + 1)
    val parts = ArrayBuffer.empty[ArrayBuffer[FrameChunk]]
    var cur = ArrayBuffer.empty[FrameChunk]
    var curBytes = 0L
    chunks.foreach { c =>
      if (curBytes >= budget && cur.nonEmpty) {
        parts += cur; cur = ArrayBuffer.empty; curBytes = 0L
      }
      cur += c
      curBytes += c.blob.length
    }
    if (cur.nonEmpty) parts += cur
    if (isLocal) {
      val planId = TcpChunkHandoff.register(parts.map(_.toArray).toArray)
      synchronized { activePlans += planId }
      parts.indices.map(i => TcpLocalPartition(planId, i): InputPartition).toArray
    } else {
      parts.map(p => TcpFramePartition(p.toArray): InputPartition).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = new PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
      val chunks = partition match {
        case TcpLocalPartition(planId, idx) => TcpChunkHandoff.get(planId, idx)
        case TcpFramePartition(cs)          => cs
        case other => throw new IllegalArgumentException(s"unexpected partition $other")
      }
      new PartitionReader[InternalRow] {
        private var ci = 0
        private var fi = -1
        override def next(): Boolean = {
          fi += 1
          while (ci < chunks.length && fi >= chunks(ci).frames) { ci += 1; fi = 0 }
          ci < chunks.length
        }
        override def get(): InternalRow = {
          val c = chunks(ci)
          val body = java.util.Arrays.copyOfRange(c.blob, c.offs(fi), c.offs(fi + 1))
          InternalRow(c.conn, c.types(fi), body)
        }
        override def close(): Unit = ()
      }
    }
  }

  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[FrameOffset].index
    log.synchronized {
      val drop = math.min((e - shift - trimmed).toInt, log.length)
      if (drop > 0) {
        var i = 0
        while (i < drop) { bufferedBytes -= log(i).blob.length; i += 1 }
        log.remove(0, drop)
        trimmed += drop
      }
    }
    // batches are planned and committed serially, so every registered plan
    // belongs to a batch at or before `end` — safe to release them all
    synchronized {
      activePlans.foreach(TcpChunkHandoff.release)
      activePlans.clear()
    }
  }

  override def stop(): Unit = {
    running = false
    server.close()
    TcpShedMetrics.unregisterGauges(port, gaugeEntry)
    synchronized {
      activePlans.foreach(TcpChunkHandoff.release)
      activePlans.clear()
    }
  }
}

private[sources] case class TcpFramePartition(chunks: Array[FrameChunk]) extends InputPartition

/** Local-mode partition descriptor: two longs instead of the chunk payload
  * (resolved by reference through [[TcpChunkHandoff]]).
  */
private[sources] case class TcpLocalPartition(planId: Long, idx: Int) extends InputPartition
