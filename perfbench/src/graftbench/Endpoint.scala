package graftbench

import graft.streaming.NetWire
import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream,
  DataOutputStream, EOFException}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** What the endpoint saw for one delivery path (the `path` attribute). */
final class PathRecord {
  val topics = new java.util.HashSet[String]()
  val attrSets = new java.util.HashSet[Map[String, String]]()
  val hashes = new java.util.HashSet[java.lang.Long]()
  var hashSum = 0L
  var frames = 0L
  var dups = 0L
  /** Arrival of the latest frame that carried a payload not seen before:
    * the moment the path's last row was first delivered. */
  var lastNewNs = 0L
}

/** The benchmark's publish endpoint. It speaks the program's `NetWire`
  * protocol (CREATE / PUBLISH, one ACK per frame, NAK for a PUBLISH to a
  * topic never created) and stamps every frame with its arrival time on
  * the monotonic clock the generator also uses. Per delivery path it keeps
  * the set of payload hashes, so duplicates are counted and the delivered
  * rows can be compared with what was sent. */
final class StampingEndpoint extends AutoCloseable {
  private val server = new ServerSocket()
  server.bind(new InetSocketAddress("127.0.0.1", 0))
  def addr: String = s"127.0.0.1:${server.getLocalPort}"

  private val created = ConcurrentHashMap.newKeySet[String]()
  private val paths = new ConcurrentHashMap[String, PathRecord]()
  val creates = new AtomicLong()
  val frames = new AtomicLong()
  val dupFrames = new AtomicLong()
  @volatile private var closed = false

  private val pool = Executors.newCachedThreadPool((r: Runnable) => {
    val t = new Thread(r, "bench-endpoint")
    t.setDaemon(true)
    t
  })
  pool.submit(new Runnable {
    override def run(): Unit =
      try while (!closed) {
        val s = server.accept()
        pool.submit(new Runnable { override def run(): Unit = serve(s) })
      } catch { case _: Exception if closed => () }
  })

  def topicNames: Set[String] = created.asScala.toSet
  def records: Map[String, PathRecord] = paths.asScala.toMap

  /** Forget delivered frames (topics stay created, counters keep going). */
  def clearPaths(): Unit = paths.clear()

  private def record(topic: String, data: Array[Byte],
      attrs: Map[String, String], now: Long): Unit = {
    val h = Digest.hash64(data)
    val rec = paths.computeIfAbsent(attrs.getOrElse("path", ""),
      _ => new PathRecord)
    rec.synchronized {
      rec.topics.add(topic)
      rec.attrSets.add(attrs)
      rec.frames += 1
      if (rec.hashes.add(h)) { rec.hashSum += h; rec.lastNewNs = now }
      else { rec.dups += 1; dupFrames.incrementAndGet() }
    }
    frames.incrementAndGet()
  }

  private def serve(sock: Socket): Unit = {
    val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
    try {
      var open = true
      while (open) {
        val cmd = try in.readByte() catch { case _: EOFException => -1.toByte }
        cmd match {
          case -1 => open = false
          case NetWire.CmdCreate =>
            created.add(in.readUTF())
            creates.incrementAndGet()
            out.writeByte(NetWire.Ack.toInt)
          case NetWire.CmdPublish =>
            val topic = in.readUTF()
            val len = in.readInt()
            if (len < 0 || len > NetWire.maxFrameBytes) {
              out.writeByte(NetWire.Nak.toInt)
              open = false
            } else {
              val data = new Array[Byte](len)
              in.readFully(data)
              val attrs = (0 until in.readInt())
                .map(_ => in.readUTF() -> in.readUTF()).toMap
              val now = System.nanoTime()
              if (created.contains(topic)) {
                record(topic, data, attrs, now)
                out.writeByte(NetWire.Ack.toInt)
              } else out.writeByte(NetWire.Nak.toInt)
            }
          case _ => out.writeByte(NetWire.Nak.toInt)
        }
        if (open && in.available() == 0) out.flush()
      }
      out.flush()
    } catch {
      case _: Exception => ()
    } finally sock.close()
  }

  override def close(): Unit = {
    closed = true
    server.close()
    pool.shutdownNow()
    ()
  }
}
