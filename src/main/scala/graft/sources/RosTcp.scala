package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException, FileInputStream, FileOutputStream, InputStream, OutputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** TCPROS wire protocol — the PUBLIC ROS 1 transport
  * (wiki.ros.org/ROS/TCPROS; the reference's live capture loop rides it
  * through rospy: `store.py:17-25` AutoSubscriber → rospy.Subscriber,
  * `scenario.py:30-137`). Everything here is the documented framing, no
  * rospy/roscpp involved:
  *
  *  - Connection header: one 4-byte LITTLE-endian total length, then per
  *    field [4-byte LE field length]["key=value" UTF-8 bytes].
  *  - Subscriber connects to a publisher's TCPROS port and sends its
  *    header (`callerid`, `topic`, `md5sum`, `type`; `md5sum=*`/`type=*`
  *    is the documented wildcard every `rostopic echo` uses). The
  *    publisher answers with its own header (or one carrying `error`).
  *  - After the exchange the publisher streams messages, each framed as
  *    [4-byte LE length][serialized message bytes].
  *
  * Endpoint discovery (the XML-RPC master's `registerSubscriber` /
  * `requestTopic` negotiation) is deployment wiring, not data plane: the
  * source takes explicit `topic=host:port` endpoints — the masterless
  * static-peer mode (rosserial-style), and exactly the seam a 5-line
  * deployment shim resolves via the master before handing the session
  * its endpoints. Specs drive the protocol against an in-process stub
  * publisher socket speaking these same bytes (the 42bo' external-seam
  * pattern applied to a wire).
  */
object RosTcp {

  /** Read exactly `n` bytes or throw EOF — socket reads are partial. */
  private[sources] def readExact(in: InputStream, n: Int): Array[Byte] = {
    require(n >= 0, s"negative frame length $n")
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(buf, off, n - off)
      if (r < 0) throw new EOFException(s"stream closed at $off/$n")
      off += r
    }
    buf
  }

  private[sources] def readLe32(in: InputStream): Int = {
    val b = readExact(in, 4)
    (b(0) & 0xff) | ((b(1) & 0xff) << 8) | ((b(2) & 0xff) << 16) | ((b(3) & 0xff) << 24)
  }

  private[sources] def le32(v: Int): Array[Byte] =
    Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)

  /** Encode a TCPROS connection header (ordered fields). */
  def encodeHeader(fields: Seq[(String, String)]): Array[Byte] = {
    val body = fields.flatMap { case (k, v) =>
      val f = s"$k=$v".getBytes(UTF_8)
      le32(f.length) ++ f
    }.toArray
    le32(body.length) ++ body
  }

  /** Decode a TCPROS connection header into its fields (last key wins —
    * the protocol never repeats keys).
    */
  def readHeader(in: InputStream, maxLen: Int = 1 << 24): Map[String, String] = {
    val total = readLe32(in)
    require(total >= 0 && total <= maxLen, s"header length $total out of range")
    val body = readExact(in, total)
    var off = 0
    val out = Map.newBuilder[String, String]
    while (off < total) {
      val len = (body(off) & 0xff) | ((body(off + 1) & 0xff) << 8) |
        ((body(off + 2) & 0xff) << 16) | ((body(off + 3) & 0xff) << 24)
      require(len >= 0 && off + 4 + len <= total, s"header field overruns ($len at $off)")
      val field = new String(body, off + 4, len, UTF_8)
      val eq = field.indexOf('=')
      require(eq > 0, s"header field without '=': $field")
      out += field.substring(0, eq) -> field.substring(eq + 1)
      off += 4 + len
    }
    out.result()
  }

  /** One length-framed message off the wire. `maxLen` (default 64 MB)
    * bounds a malformed/hostile length prefix — same cap discipline as
    * the external video decoder seam.
    */
  def readFrame(in: InputStream, maxLen: Int = 1 << 26): Array[Byte] = {
    val len = readLe32(in)
    require(len >= 0 && len <= maxLen, s"frame length $len out of range")
    readExact(in, len)
  }

  def writeFrame(out: OutputStream, bytes: Array[Byte]): Unit = {
    out.write(le32(bytes.length)); out.write(bytes); out.flush()
  }

  /** `std_msgs/String` body codec ([4-byte LE len][UTF-8 bytes]) — the
    * message type the stub fixtures and the reference's string topics
    * speak; richer message decode is schema-registry territory the
    * engine leaves to `raw` consumers.
    */
  def encodeStdString(s: String): Array[Byte] = {
    val b = s.getBytes(UTF_8)
    le32(b.length) ++ b
  }

  /** Column form of [[decodeStdString]] — pure built-in expressions
    * (substr clamps at the buffer end; the 4-byte LE prefix is framing,
    * and the wire framing already bounded the buffer), so the decode
    * stays inside whole-stage codegen on a corpus-scale replay.
    */
  def stdStringCol(raw: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{decode, length, lit}
    decode(raw.substr(lit(5), length(raw)), "UTF-8")
  }

  def decodeStdString(raw: Array[Byte]): String = {
    require(raw.length >= 4, "std_msgs/String body shorter than its length prefix")
    val len = (raw(0) & 0xff) | ((raw(1) & 0xff) << 8) |
      ((raw(2) & 0xff) << 16) | ((raw(3) & 0xff) << 24)
    require(len >= 0 && 4 + len <= raw.length, s"std_msgs/String length $len overruns")
    new String(raw, 4, len, UTF_8)
  }

  /** Subscriber-side handshake on a fresh socket: send our header, read
    * the publisher's, fail on an `error` field. Returns the publisher's
    * header fields (type/md5sum/callerid/latching).
    */
  def subscribeHandshake(sock: Socket, topic: String, callerid: String,
                         msgType: String = "*", md5sum: String = "*"): Map[String, String] = {
    val out = sock.getOutputStream
    out.write(encodeHeader(Seq(
      "callerid" -> callerid, "topic" -> topic,
      "md5sum" -> md5sum, "type" -> msgType, "tcp_nodelay" -> "1")))
    out.flush()
    val reply = readHeader(sock.getInputStream)
    reply.get("error").foreach(e =>
      throw new java.io.IOException(s"publisher refused '$topic': $e"))
    reply
  }

  /** Republish a (possibly streaming) frame of serialized message bodies
    * onto a live TCPROS publisher — the reference's republish direction
    * (`convert.py` mongodb_to_ros_bag's live twin: stored documents back
    * onto the wire). Each micro-batch's `rawCol` bytes are framed to
    * every connected subscriber, in `orderCol` order when given (a
    * replayed capture should leave in capture order).
    *
    * Driver-side by construction, not oversight: a wire endpoint is a
    * singleton (ONE host:port — the socket lives on one machine), so
    * rows stream through `toLocalIterator` one partition at a time —
    * never a whole-batch collect — and the volumes are control-plane
    * (what a live robot consumes), not corpus scans.
    */
  def publishStream(stream: org.apache.spark.sql.DataFrame, pub: RosTcpPublisher,
                    checkpoint: String, rawCol: String = "raw",
                    orderCol: Option[String] = None,
                    trigger: org.apache.spark.sql.streaming.Trigger =
                      org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val ordered = orderCol.fold(df.toDF())(c => df.toDF().orderBy(c))
        ordered.select(rawCol).toLocalIterator().asScala
          .foreach(r => pub.publish(r.getAs[Array[Byte]](0)))
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  // ------------------------------------------------------------------
  // WAL framing: the subscriber threads append each received message as
  // [int32 BE payload len][int64 BE recv_us][payload] to one append-only
  // file per topic. The WAL is what makes a LIVE wire exactly-once
  // replayable: offsets index into it, a restarted query re-reads its
  // uncommitted slice instead of asking the wire to repeat itself
  // (TCPROS cannot), and a crash mid-append truncates to the last whole
  // record on recovery.
  // ------------------------------------------------------------------

  /** Sanitized name PLUS a digest of the raw topic: two distinct topics
    * that sanitize alike (`/cmd/vel` vs `/cmd_vel`) must never share a
    * WAL file — interleaved appends from two subscriber threads would
    * corrupt both.
    */
  private[graft] def walFileName(topic: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(topic.getBytes(UTF_8)).take(4).map("%02x".format(_)).mkString
    topic.map(c => if (c.isLetterOrDigit) c else '_') + "_" + digest + ".wal"
  }

  /** Scan a WAL, returning (complete record count, byte length of those
    * records) — the recovery entry point; a partial tail is not counted.
    * Record completeness is checked against the FILE LENGTH, never a
    * stream `skip` (FileInputStream.skip seeks past EOF without
    * complaint, which would count a torn tail as whole).
    */
  private[graft] def walScan(file: java.io.File): (Long, Long) = {
    if (!file.exists()) return (0L, 0L)
    val fileLen = file.length()
    val in = new DataInputStream(new BufferedInputStream(new FileInputStream(file)))
    try {
      var n = 0L
      var pos = 0L
      var done = false
      while (!done) {
        if (pos + 12L > fileLen) done = true
        else {
          val len = in.readInt()
          if (len < 0 || pos + 12L + len > fileLen) done = true
          else {
            in.readLong() // recv_us
            var toSkip = len.toLong
            while (toSkip > 0) { val s = in.skip(toSkip); require(s > 0); toSkip -= s }
            pos += 12L + len
            n += 1
          }
        }
      }
      (n, pos)
    } finally in.close()
  }
}

/** DataSource V2 for live TCPROS subscription — the reference's custom
  * ROS source as a Spark streaming source: `spark.readStream
  * .format("rostcp").option("endpoints", "/chatter=host:11411")
  * .option("walDir", dir).load()` micro-batch-tails N live topics.
  *
  * Shape: one driver-side subscriber thread per topic speaks the wire
  * (handshake + framed reads, reconnect with backoff) and appends every
  * message to a per-topic WAL; offsets are per-topic record counts into
  * the WAL, so executors read their batch slices from the WAL files —
  * the live wire is never re-asked, uncommitted-but-received data
  * survives a restart, and a replayed batch is byte-identical
  * (exactly-once through the checkpoint, which a bare socket source
  * cannot give). `walDir` must be storage both driver and executors see
  * (local FS in local mode, shared FS on a cluster) — the same contract
  * as every checkpoint location. BATCH_READ reads the WAL as it stands,
  * so a finished capture session is immediately a table.
  *
  * Schema: (topic string, seq long — the topic's WAL index, recv_us
  * long — driver receive time, raw binary — the serialized ROS message
  * body; `RosTcp.decodeStdString` for string topics).
  */
class RosTcpSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "rostcp"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = RosTcpSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val callerid = opts.getOrDefault("callerid", "/graft")
    // explicit endpoints (masterless static peers), or the two-hop ROS
    // master resolution (registerSubscriber → requestTopic) at query start
    val endpoints = Option(opts.get("endpoints"))
      .map(RosTcpSource.parseEndpoints)
      .orElse(Option(opts.get("master")).map { m =>
        val topics = Option(opts.get("topics")).getOrElse(
          throw new IllegalArgumentException(
            "rostcp with option master also requires option topics"))
        RosMaster.resolveEndpoints(m, callerid,
          topics.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      })
      .getOrElse(throw new IllegalArgumentException(
        "rostcp requires option endpoints, or master + topics"))
    new RosTcpTable(endpoints,
      Option(opts.get("walDir")).getOrElse(
        throw new IllegalArgumentException("rostcp requires option walDir")),
      callerid)
  }
}

object RosTcpSource {
  val Schema: StructType = StructType(Seq(
    StructField("topic", StringType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("recv_us", LongType, nullable = false),
    StructField("raw", BinaryType, nullable = false)))

  /** `"/chatter=localhost:11411;/imu=robot:11412"` (`,` works too). */
  private[graft] def parseEndpoints(spec: String): Seq[(String, String, Int)] = {
    require(spec != null && spec.nonEmpty, "rostcp requires option endpoints")
    spec.split("[;,]").toSeq.map(_.trim).filter(_.nonEmpty).map { e =>
      val eq = e.indexOf('=')
      require(eq > 0, s"endpoint '$e' is not topic=host:port")
      val colon = e.lastIndexOf(':')
      require(colon > eq, s"endpoint '$e' is not topic=host:port")
      (e.substring(0, eq), e.substring(eq + 1, colon), e.substring(colon + 1).toInt)
    }
  }
}

class RosTcpTable(endpoints: Seq[(String, String, Int)], walDir: String, callerid: String)
    extends Table with SupportsRead {
  override def name(): String = s"rostcp(${endpoints.map(_._1).mkString(",")})"
  override def schema(): StructType = RosTcpSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RosTcpScanBuilder(endpoints, walDir, callerid)
}

class RosTcpScanBuilder(endpoints: Seq[(String, String, Int)], walDir: String,
                        callerid: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = RosTcpSource.Schema
  override def pruneColumns(requiredSchema: StructType): Unit = {
    val names = requiredSchema.fieldNames.toSet
    required = StructType(RosTcpSource.Schema.filter(f => names.contains(f.name)))
  }
  override def build(): Scan = new RosTcpScan(endpoints, walDir, callerid, required)
}

class RosTcpScan(endpoints: Seq[(String, String, Int)], walDir: String,
                 callerid: String, required: StructType) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Batch read = the WAL as it stands (a finished capture session). */
  override def planInputPartitions(): Array[InputPartition] =
    endpoints.map { case (topic, _, _) =>
      val f = new java.io.File(walDir, RosTcp.walFileName(topic))
      val (n, _) = RosTcp.walScan(f)
      RosTcpInputPartition(topic, f.getPath, 0L, n): InputPartition
    }.filter(_.asInstanceOf[RosTcpInputPartition].endSeq > 0).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new RosTcpReaderFactory(required)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new RosTcpMicroBatchStream(endpoints, walDir, callerid, required)
}

/** Offset = per-topic count of messages durably appended to the WAL. */
case class RosTcpOffset(counts: Map[String, Long]) extends Offset {
  override def json(): String = {
    val m = new util.TreeMap[String, java.lang.Long]()
    counts.foreach { case (k, v) => m.put(k, v) }
    new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(m)
  }
}

object RosTcpOffset {
  def fromJson(json: String): RosTcpOffset = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(json, classOf[util.Map[String, Number]])
    RosTcpOffset(m.asScala.map { case (k, v) => k -> v.longValue() }.toMap)
  }
}

/** The live tail: one daemon subscriber thread per endpoint appends
  * framed messages to its topic's WAL (write, flush, fsync, THEN
  * publish the count — a planned batch end never exceeds data that
  * survives a power failure, so a checkpointed offset can always be
  * replayed); reconnects with EXPONENTIAL backoff (200 ms doubling to
  * 10 s) while the query runs — a publisher restart is a capture
  * hiccup, not a query failure, and a PERMANENT refusal (typo'd topic:
  * the publisher answers with an `error` header every time) decays to
  * one attempt per 10 s instead of hammering the endpoint; the
  * per-topic `failures` gauge makes a never-connecting endpoint
  * observable. On construction each WAL recovers to its last complete
  * record (a crash mid-append truncates the tail), so counts resume
  * exactly where durability left off.
  */
class RosTcpMicroBatchStream(endpoints: Seq[(String, String, Int)], walDir: String,
                             callerid: String, required: StructType)
    extends MicroBatchStream {

  new java.io.File(walDir).mkdirs()
  @volatile private var running = true
  private val sockets = new java.util.concurrent.ConcurrentLinkedQueue[Socket]()

  private case class TopicWal(topic: String, file: java.io.File,
                              count: java.util.concurrent.atomic.AtomicLong,
                              failures: java.util.concurrent.atomic.AtomicLong,
                              fos: FileOutputStream, out: DataOutputStream)

  private val wals: Seq[TopicWal] = endpoints.map { case (topic, _, _) =>
    val f = new java.io.File(walDir, RosTcp.walFileName(topic))
    val (n, goodBytes) = RosTcp.walScan(f)
    if (f.exists() && f.length() > goodBytes) {
      // crash mid-append: drop the partial tail before appending anew
      val raf = new java.io.RandomAccessFile(f, "rw")
      try raf.setLength(goodBytes) finally raf.close()
    }
    val fos = new FileOutputStream(f, true)
    TopicWal(topic, f, new java.util.concurrent.atomic.AtomicLong(n),
      new java.util.concurrent.atomic.AtomicLong(0L),
      fos, new DataOutputStream(new BufferedOutputStream(fos)))
  }

  /** Consecutive connect/handshake failures per topic — a liveness gauge
    * (reset on every successful handshake); a misconfigured endpoint
    * shows as a monotonically climbing count instead of silence.
    */
  def connectFailures: Map[String, Long] =
    wals.map(w => w.topic -> w.failures.get()).toMap

  private val threads: Seq[Thread] = endpoints.zip(wals).map { case ((topic, host, port), wal) =>
    val t = new Thread(() => {
      while (running) {
        var sock: Socket = null
        try {
          sock = new Socket()
          sock.connect(new InetSocketAddress(host, port), 10000)
          sockets.add(sock)
          RosTcp.subscribeHandshake(sock, topic, callerid)
          wal.failures.set(0L)
          val in = new BufferedInputStream(sock.getInputStream)
          while (running) {
            val msg = RosTcp.readFrame(in)
            val recvUs = System.currentTimeMillis() * 1000L
            wal.synchronized {
              wal.out.writeInt(msg.length)
              wal.out.writeLong(recvUs)
              wal.out.write(msg)
              wal.out.flush()
              wal.fos.getFD.sync() // durable before the count publishes
            }
            wal.count.incrementAndGet()
          }
        } catch {
          case _: Exception if running =>
            val n = wal.failures.incrementAndGet()
            Thread.sleep(math.min(200L << math.min(n, 6L), 10000L))
          case _: Exception => ()
        } finally {
          if (sock != null) { sockets.remove(sock); try sock.close() catch { case _: Exception => () } }
        }
      }
    }, s"rostcp-$topic")
    t.setDaemon(true)
    t.start()
    t
  }

  override def initialOffset(): Offset =
    RosTcpOffset(endpoints.map(_._1 -> 0L).toMap)

  override def latestOffset(): Offset =
    RosTcpOffset(wals.map(w => w.topic -> w.count.get()).toMap)

  override def deserializeOffset(json: String): Offset = RosTcpOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[RosTcpOffset].counts
    val e = end.asInstanceOf[RosTcpOffset].counts
    wals.flatMap { w =>
      val from = s.getOrElse(w.topic, 0L)
      val to = e.getOrElse(w.topic, 0L)
      if (to > from) Some(RosTcpInputPartition(w.topic, w.file.getPath, from, to): InputPartition)
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new RosTcpReaderFactory(required)

  override def commit(end: Offset): Unit = () // WAL retained: it IS the capture

  override def stop(): Unit = {
    running = false
    sockets.iterator().asScala.foreach(s => try s.close() catch { case _: Exception => () })
    threads.foreach(_.interrupt())
    threads.foreach(_.join(2000))
    wals.foreach(w => w.synchronized(try w.out.close() catch { case _: Exception => () }))
  }
}

/** One topic's WAL slice [startSeq, endSeq). */
case class RosTcpInputPartition(topic: String, walPath: String,
                                startSeq: Long, endSeq: Long) extends InputPartition

class RosTcpReaderFactory(required: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[RosTcpInputPartition]
    new PartitionReader[InternalRow] {
      private val in = new DataInputStream(
        new BufferedInputStream(new FileInputStream(p.walPath)))
      private var seq = 0L
      // skip to the slice start — records before the batch are not ours
      while (seq < p.startSeq) {
        val len = in.readInt(); in.readLong()
        var toSkip = len.toLong
        while (toSkip > 0) {
          val s = in.skip(toSkip)
          if (s <= 0) throw new EOFException("truncated WAL during skip")
          toSkip -= s
        }
        seq += 1
      }
      private val topicUtf = UTF8String.fromString(p.topic)
      private var current: InternalRow = _
      override def next(): Boolean =
        if (seq >= p.endSeq) false
        else {
          val len = in.readInt()
          val recvUs = in.readLong()
          val raw = RosTcp.readExact(in, len)
          val values = required.fieldNames.map {
            case "topic" => topicUtf
            case "seq" => java.lang.Long.valueOf(seq)
            case "recv_us" => java.lang.Long.valueOf(recvUs)
            case "raw" => raw
          }
          current = new GenericInternalRow(values.asInstanceOf[Array[Any]])
          seq += 1
          true
        }
      override def get(): InternalRow = current
      override def close(): Unit = in.close()
    }
  }
}

/** Publisher side — the reference's republish direction
  * (`convert.py`'s `*_to_ros_bag` live twin): a TCPROS publisher server
  * any rospy/rostopic subscriber (or this file's own source) can
  * connect to. Accepts subscriber handshakes on its port — replying
  * with an `error` header for a topic mismatch, exactly per protocol —
  * and fans each published frame to every connected subscriber,
  * dropping broken pipes (a gone subscriber is not a publisher fault).
  *
  * Scale note: a wire endpoint is a singleton by protocol nature (ONE
  * host:port), so publishing is driver-side by construction — the
  * republish direction carries control-plane volumes (what a live robot
  * consumes), never corpus scans.
  */
class RosTcpPublisher(port: Int, topic: String,
                      msgType: String = "std_msgs/String",
                      md5sum: String = "*",
                      callerid: String = "/graft_pub") extends AutoCloseable {
  // SO_REUSEADDR before bind: a restarting publisher re-binds its own
  // port immediately instead of racing the previous incarnation's
  // TIME_WAIT connections (a real capture process restarts on a FIXED
  // advertised port — losing that race was a measured flake under load)
  private val server = new ServerSocket()
  server.setReuseAddress(true)
  server.bind(new java.net.InetSocketAddress(port))
  @volatile private var running = true
  private val conns = new java.util.concurrent.CopyOnWriteArrayList[Socket]()

  /** The bound port (pass 0 to take an ephemeral one — spec mode). */
  def boundPort: Int = server.getLocalPort

  def connected: Int = conns.size()

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val sock = server.accept()
        // handshake on its own thread with a read deadline: one silent
        // or half-open client must never block the next subscriber
        val h = new Thread(() => {
          try {
            sock.setSoTimeout(10000)
            val sub = RosTcp.readHeader(sock.getInputStream)
            val out = sock.getOutputStream
            if (!sub.get("topic").contains(topic)) {
              out.write(RosTcp.encodeHeader(Seq(
                "error" -> s"topic '$topic' only (asked ${sub.getOrElse("topic", "?")})")))
              out.flush(); sock.close()
            } else {
              out.write(RosTcp.encodeHeader(Seq(
                "callerid" -> callerid, "topic" -> topic,
                "md5sum" -> md5sum, "type" -> msgType,
                "latching" -> "0", "message_definition" -> "")))
              out.flush()
              sock.setSoTimeout(0)
              conns.add(sock)
            }
          } catch {
            case _: Exception => try sock.close() catch { case _: Exception => () }
          }
        }, s"rostcp-pub-$topic-handshake")
        h.setDaemon(true)
        h.start()
      } catch { case _: Exception => () /* closed server ends the loop */ }
    }
  }, s"rostcp-pub-$topic")
  acceptor.setDaemon(true)
  acceptor.start()

  // master registration state: the slave XML-RPC responder + what we
  // advertised, so close() can withdraw it
  @volatile private var registration
      : Option[(com.sun.net.httpserver.HttpServer, String, String)] = None

  /** Make this publisher DISCOVERABLE through a ROS master: start the
    * minimal slave XML-RPC endpoint ([[RosMaster.slaveServer]]) that
    * answers `requestTopic` with this server's TCPROS port, then
    * `registerPublisher` it — after this, a real rosnode's
    * `rostopic echo` resolves and connects with no endpoint config.
    * Returns the advertised slave API URI; [[close]] unregisters
    * (best-effort) and stops the responder. `host` is the name remote
    * subscribers will dial for BOTH hops.
    */
  def register(masterUri: String, host: String = "localhost"): String =
    synchronized {
      require(registration.isEmpty, "publisher already registered")
      val (srv, api) = RosMaster.slaveServer(host, boundPort)
      try RosMaster.registerPublisher(masterUri, callerid, topic, msgType, api)
      catch { case e: Throwable => srv.stop(0); throw e }
      registration = Some((srv, api, masterUri))
      api
    }

  /** Fan one serialized message body to every live subscriber. */
  def publish(raw: Array[Byte]): Unit =
    conns.iterator().asScala.foreach { sock =>
      try RosTcp.writeFrame(sock.getOutputStream, raw)
      catch { case _: Exception => conns.remove(sock); try sock.close() catch { case _: Exception => () } }
    }

  override def close(): Unit = {
    running = false
    // withdraw the master advertisement first (best-effort — a dead
    // master must not block shutdown), then stop the slave responder.
    // The handoff is synchronized against register(): an unsynchronized
    // read could observe None mid-register and leak the slave HttpServer
    // plus a stale advertisement routing subscribers to a dead port.
    synchronized {
      registration.foreach { case (srv, api, master) =>
        try RosMaster.unregisterPublisher(master, callerid, topic, api)
        catch { case _: Exception => () }
        srv.stop(0)
      }
      registration = None
    }
    try server.close() catch { case _: Exception => () }
    // the listening socket is released only once the acceptor leaves
    // accept(): until then the kernel still holds it, and a restart on
    // the same port fails with "Address already in use" (SO_REUSEADDR
    // covers TIME_WAIT, not a live listener). Seen on a loaded single CPU.
    acceptor.join(10000)
    conns.iterator().asScala.foreach(s => try s.close() catch { case _: Exception => () })
    conns.clear()
  }
}
