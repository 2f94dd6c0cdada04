package graft.streaming

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream,
  DataOutputStream, EOFException}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue,
  Executors}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** A real network publish endpoint for `s_route_publish_net` — the wire
  * analogue of the reference's Pub/Sub sink (publisher.go:79-94: async
  * per-line publish, per-request future await; topic create-once cache at
  * :99-129). The protocol is a minimal length-prefixed TCP exchange with
  * the SAME delivery contract a Pub/Sub connector gives the pipeline:
  *
  *  - one PUBLISH frame per row: (topic, payload bytes, attribute map) —
  *    the `pubsub.Message{Data, Attributes}` shape (publisher.go:88-91);
  *  - explicit per-frame broker ACK; a NAK or dropped connection throws,
  *    failing the micro-batch, which Structured Streaming replays from the
  *    checkpoint — at-least-once, acks-before-epoch-commit (the §8-B2
  *    silent-ack bug is structurally impossible);
  *  - CREATE is idempotent broker-side and cached create-once
  *    client-side, mirroring the double-checked topic cache
  *    (publisher.go:99-129).
  *
  * Wire format (all ints big-endian, strings modified-UTF8 via
  * Data{Input,Output}Stream):
  * {{{
  *   CREATE : u8 cmd=1, utf topic
  *   PUBLISH: u8 cmd=2, utf topic, i32 dataLen, dataLen bytes,
  *            i32 nAttrs, nAttrs x (utf key, utf value)
  *   reply  : u8 0x06 ACK | 0x15 NAK   (one per frame, in order)
  * }}}
  *
  * Scale shape: publishing happens on the EXECUTORS (`foreachPartition`),
  * one connection per partition per micro-batch — the driver never sees a
  * payload byte, so sink throughput scales with the cluster, not the
  * driver NIC. Frames are pipelined in windows of `ackWindow` before the
  * matching acks are drained — the same publish-async/await-futures
  * overlap the reference gets from the Pub/Sub client, and the window
  * bounds both sides' socket buffers so neither end can deadlock on a
  * full duplex pipe. A production deployment swaps `NetPublisher` for a
  * Pub/Sub client with the identical foreachBatch shape.
  */
object NetWire {
  val CmdCreate: Byte = 1
  val CmdPublish: Byte = 2
  val Ack: Byte = 0x06
  val Nak: Byte = 0x15
  /** Frames in flight before draining their acks (see scaladoc above). */
  val ackWindow = 1000
  /** Max PUBLISH payload the broker accepts. A corrupt/hostile length
    * prefix must not drive `new Array[Byte](n)` to a negative-size throw
    * or a multi-GiB allocation inside the broker JVM. */
  val maxFrameBytes: Int = 16 * 1024 * 1024
}

/** One delivered message as the broker stores it. */
final case class NetMessage(data: String, attrs: Map[String, String])

/** The production publisher seam (round 11, verdict #6): exactly what
  * the routing sink needs from a transport and nothing else, so the
  * Pub/Sub client a real deployment uses is a two-method drop-in for
  * the in-process broker. The contract every implementation must keep
  * (StreamingSpec and NetTransportContractSpec pin it against the
  * NetTransport leg):
  *
  *  - Serializable: [[ensureTopic]] and [[publishPartition]] run inside
  *    `foreachPartition` on EXECUTORS, so the instance must carry only
  *    connection coordinates, never sockets;
  *  - [[ensureTopic]] is idempotent and create-once per process
  *    (publisher.go:99-129's double-checked topic cache), and safe to
  *    call from concurrent tasks;
  *  - every frame is acknowledged before [[publishPartition]] returns,
  *    and any unacknowledged/NAK'd frame THROWS — the Spark task fails,
  *    Structured Streaming replays the batch from the checkpoint, and
  *    at-least-once holds with no silent-ack window (§8-B2);
  *  - messages arrive already decided: the sink's `Streams.messages`
  *    gives each row its topic (`__dead_letter` for an unroutable path)
  *    and attributes, and the transport publishes them as given, with no
  *    routing or dead-letter policy of its own.
  */
trait PublishTransport extends Serializable {
  /** Create `topic` if this process hasn't already. Any JVM, blocks
    * until acked, create-once per process: once it returns, a publish
    * to `topic` cannot be refused for a missing topic. */
  def ensureTopic(topic: String): Unit
  /** Publish one partition's (topic, payload, attributes) rows over one
    * connection; throw on any NAK or IO error. */
  def publishPartition(
    rows: Iterator[(String, String, Map[String, String])]): Unit
}

/** The emulator/TCP leg of [[PublishTransport]], carrying the
  * reference's credentialed-client bootstrap (R15, server.go:46-57):
  * when a credentials path is configured it is validated and loaded AT
  * CONSTRUCTION — an unusable file aborts the pipeline before any frame
  * is sent, exactly the fail-fast the bridge applies to --credentials,
  * instead of surfacing on the Nth micro-batch. The in-process broker
  * does not challenge clients, so the loaded identity is kept as an md5
  * fingerprint (what a real client would exchange for tokens);
  * a production transport replaces that with its SDK's credential
  * loader behind the same constructor-time contract. */
final case class NetTransport(addr: String,
    credentialsPath: Option[String] = None) extends PublishTransport {
  /** Constructor-time credential load: fail-fast parity (spec-pinned).
    * Computed on the driver; serializes to executors as a string. */
  val credentialsFingerprint: Option[String] = credentialsPath.map { p =>
    val f = new java.io.File(p)
    if (!f.isFile || !f.canRead) throw new IllegalArgumentException(
      s"credentials file $p is not a readable file — refusing to " +
        "construct a publisher with unusable sink credentials (R15 " +
        "parity: the reference exits fatally on bad --credentials)")
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    if (bytes.isEmpty) throw new IllegalArgumentException(
      s"credentials file $p is empty — refusing unusable sink credentials")
    java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map(b => f"$b%02x").mkString
  }
  override def ensureTopic(topic: String): Unit =
    NetPublisher.ensureTopic(addr, topic)
  override def publishPartition(
      rows: Iterator[(String, String, Map[String, String])]): Unit =
    NetPublisher.publishPartition(addr, rows)
}

/** In-process TCP broker: the test/emulator stand-in for the real
  * Pub/Sub endpoint. Topics must be CREATEd before a PUBLISH is accepted
  * (NAK otherwise) so specs can prove the lazy create-once flow; CREATE
  * itself is idempotent (re-CREATE acks and is counted, not an error) —
  * exactly the semantics `pubsub.CreateTopic` + "already exists" gives
  * the reference. Thread-per-connection is plenty for a fixture broker;
  * message storage is an in-memory per-topic queue with delivery
  * counters. */
final class NetBroker(bindPort: Int = 0) extends AutoCloseable {
  private val topics =
    new ConcurrentHashMap[String, ConcurrentLinkedQueue[NetMessage]]()
  private val createCalls = new ConcurrentHashMap[String, AtomicLong]()
  @volatile private var closed = false

  private val server = new ServerSocket()
  server.setReuseAddress(true) // restart-on-same-port (broker-loss specs)
  server.bind(new InetSocketAddress("127.0.0.1", bindPort))
  def port: Int = server.getLocalPort
  def addr: String = s"127.0.0.1:$port"

  /** How many CREATE frames arrived for `topic` (create-once assertions). */
  def createCount(topic: String): Long =
    Option(createCalls.get(topic)).map(_.get()).getOrElse(0L)
  def topicNames: Set[String] = topics.keySet().asScala.toSet
  def messages(topic: String): Seq[NetMessage] =
    Option(topics.get(topic)).map(_.asScala.toSeq).getOrElse(Seq.empty)

  private val pool = Executors.newCachedThreadPool()
  pool.submit(new Runnable {
    override def run(): Unit =
      try while (!closed) {
        val sock = server.accept()
        pool.submit(new Runnable { override def run(): Unit = serve(sock) })
      } catch { case _: Exception if closed => /* accept loop shutdown */ }
  })

  private def serve(sock: Socket): Unit = {
    val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    val out =
      new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
    try {
      while (true) {
        val cmd =
          try in.readByte()
          catch { case _: EOFException => return } // clean client close
        cmd match {
          case NetWire.CmdCreate =>
            val topic = in.readUTF()
            createCalls.computeIfAbsent(topic, _ => new AtomicLong())
              .incrementAndGet()
            topics.computeIfAbsent(topic,
              _ => new ConcurrentLinkedQueue[NetMessage]())
            out.writeByte(NetWire.Ack.toInt)
          case NetWire.CmdPublish =>
            val topic = in.readUTF()
            val dataLen = in.readInt()
            // Wire data is untrusted: a corrupt frame's length prefix
            // could be negative (NegativeArraySizeException) or huge
            // (OOM the broker). NAK and drop the connection — the sender
            // cannot be resynchronized mid-stream after a bad prefix.
            if (dataLen < 0 || dataLen > NetWire.maxFrameBytes) {
              out.writeByte(NetWire.Nak.toInt)
              out.flush()
              return
            }
            val data = new Array[Byte](dataLen)
            in.readFully(data)
            val attrs = (0 until in.readInt())
              .map(_ => in.readUTF() -> in.readUTF()).toMap
            topics.get(topic) match {
              case null => out.writeByte(NetWire.Nak.toInt) // must CREATE first
              case q =>
                q.add(NetMessage(new String(data, "UTF-8"), attrs))
                out.writeByte(NetWire.Ack.toInt)
            }
          case _ => out.writeByte(NetWire.Nak.toInt)
        }
        out.flush() // one ack per frame, same order
      }
    } catch {
      case _: Exception => // connection torn down; client sees EOF => retry
    } finally sock.close()
  }

  override def close(): Unit = {
    closed = true
    server.close()
    pool.shutdownNow()
    ()
  }
}

/** Executor/driver-side client. Stateless except for the JVM-global
  * create-once topic cache (the rebuild of publisher.go:99-129's
  * double-checked map — `computeIfAbsent` gives the same exactly-one-
  * create-per-process guarantee). All methods throw on NAK/IO error so a
  * failed publish fails the Spark task → batch retry → at-least-once. */
object NetPublisher {
  private val created = new ConcurrentHashMap[String, java.lang.Boolean]()
  def reset(): Unit = created.clear()

  /** Drop every create-once entry for `addr`. Called on a publish NAK:
    * the dominant NAK cause is a broker that restarted and lost its
    * topics, in which case the JVM-global cache is stale — without the
    * eviction, the replayed batch skips ensureTopic, publishes into the
    * missing topic, NAKs again, and the micro-batch retries forever. */
  private[streaming] def evictAddr(addr: String): Unit = {
    created.keySet().removeIf(_.startsWith(s"$addr/"))
    ()
  }

  private def connect(addr: String): Socket = {
    val Array(h, p) = addr.split(":", 2)
    new Socket(h, p.toInt)
  }

  /** Lazy create-once. Any JVM, blocks until acked, create-once per
    * process: the entry exists only once the broker has acked the
    * CREATE, a concurrent caller for the same topic waits inside
    * `computeIfAbsent` until then, and a NAK or IO error throws and
    * leaves no entry, so a retry re-attempts. */
  def ensureTopic(addr: String, topic: String): Unit = {
    created.computeIfAbsent(s"$addr/$topic", { _ =>
      val sock = connect(addr)
      try {
        val out = new DataOutputStream(
          new BufferedOutputStream(sock.getOutputStream))
        val in = new DataInputStream(sock.getInputStream)
        out.writeByte(NetWire.CmdCreate.toInt)
        out.writeUTF(topic)
        out.flush()
        if (in.readByte() != NetWire.Ack)
          throw new java.io.IOException(s"broker NAK creating topic $topic")
        java.lang.Boolean.TRUE
      } finally sock.close()
    })
    ()
  }

  /** Publish one partition's rows over a single connection, pipelining
    * frames in windows of `NetWire.ackWindow` before draining the
    * matching acks (publish-async + await-futures, publisher.go:182-202).
    * Any NAK throws => task fails => Spark replays the batch. */
  def publishPartition(addr: String,
    rows: Iterator[(String, String, Map[String, String])]): Unit = {
    if (!rows.hasNext) return
    val sock = connect(addr)
    try {
      val out = new DataOutputStream(
        new BufferedOutputStream(sock.getOutputStream))
      val in = new DataInputStream(
        new BufferedInputStream(sock.getInputStream))
      var inFlight = 0
      def drainAcks(): Unit = {
        var i = 0
        while (i < inFlight) {
          if (in.readByte() != NetWire.Ack) {
            // Stale-cache invalidation (round-5 advice): a NAK usually
            // means the broker restarted and lost its topics, so the
            // replay must re-run ensureTopic rather than skip it.
            evictAddr(addr)
            throw new java.io.IOException(s"broker NAK on publish to $addr")
          }
          i += 1
        }
        inFlight = 0
      }
      rows.foreach { case (topic, data, attrs) =>
        out.writeByte(NetWire.CmdPublish.toInt)
        out.writeUTF(topic)
        val bytes = data.getBytes("UTF-8")
        out.writeInt(bytes.length)
        out.write(bytes)
        out.writeInt(attrs.size)
        attrs.foreach { case (k, v) => out.writeUTF(k); out.writeUTF(v) }
        inFlight += 1
        if (inFlight >= NetWire.ackWindow) { out.flush(); drainAcks() }
      }
      out.flush()
      drainAcks()
    } finally sock.close()
  }
}
