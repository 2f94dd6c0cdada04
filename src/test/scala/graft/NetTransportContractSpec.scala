package graft

import graft.streaming.{NetBroker, NetPublisher, NetTransport, NetWire,
  PublishTransport}
import java.util.concurrent.{Callable, ConcurrentHashMap, CountDownLatch,
  Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

/** The [[graft.streaming.PublishTransport]] contract pinned against the
  * NetTransport leg and the in-process broker: ordered acked delivery
  * with attributes, create-once idempotent topic ensure, fail-fast
  * credentials, executor-shippable serialization — exactly the
  * semantics the routing sink relies on, so a replacement transport
  * has a written bar to meet. */
class NetTransportContractSpec extends AnyFunSuite {
  private def withBroker(f: NetBroker => Unit): Unit = {
    val broker = new NetBroker()
    // drop the JVM-global create-once cache (test isolation)
    NetPublisher.reset()
    try f(broker) finally broker.close()
  }

  private def delivered(b: NetBroker, topic: String) =
    b.messages(topic).map(m => (m.data, m.attrs))

  test("net transport: delivers rows + attributes in order, acked before return") {
    withBroker { b =>
      val t = NetTransport(b.addr)
      t.ensureTopic("t_contract")
      t.publishPartition(Iterator(
        ("t_contract", "m1", Map("k" -> "v1")),
        ("t_contract", "m2", Map.empty[String, String]),
        ("t_contract", "m3", Map("k" -> "v3", "x" -> "y"))))
      // publishPartition RETURNED => every frame is already acked, so
      // the broker must hold all three, in order, attrs intact
      assert(delivered(b, "t_contract") == Seq(
        ("m1", Map("k" -> "v1")),
        ("m2", Map.empty[String, String]),
        ("m3", Map("k" -> "v3", "x" -> "y"))))
    }
  }

  test("net transport: ensureTopic is create-once idempotent") {
    withBroker { b =>
      val t = NetTransport(b.addr)
      t.ensureTopic("t_once"); t.ensureTopic("t_once"); t.ensureTopic("t_once")
      assert(b.createCount("t_once") == 1,
        "repeated ensureTopic leaked CREATE calls past the process cache")
    }
  }

  test("net transport: unusable credentials abort construction (R15 fail-fast)") {
    withBroker { b =>
      intercept[IllegalArgumentException] {
        NetTransport(b.addr, Some("/missing/creds.json"))
      }
      val empty = java.io.File.createTempFile("creds-empty", ".properties")
      empty.deleteOnExit()
      intercept[IllegalArgumentException] { NetTransport(b.addr, Some(empty.getPath)) }
    }
  }

  test("net transport: serializes and publishes after the round trip (executor-shippable)") {
    withBroker { b =>
      val t = NetTransport(b.addr)
      val bytes = {
        val bos = new java.io.ByteArrayOutputStream()
        val oos = new java.io.ObjectOutputStream(bos)
        oos.writeObject(t); oos.close()
        bos.toByteArray
      }
      val t2 = new java.io.ObjectInputStream(
        new java.io.ByteArrayInputStream(bytes))
        .readObject().asInstanceOf[PublishTransport]
      t2.ensureTopic("t_ser")
      t2.publishPartition(
        Iterator(("t_ser", "after-roundtrip", Map.empty[String, String])))
      assert(delivered(b, "t_ser") ==
        Seq(("after-roundtrip", Map.empty[String, String])))
    }
  }

  /** A broker that holds each CREATE ack for `createDelayMs`, so a
    * publish racing an unacked CREATE reaches it while the topic is
    * still missing (and is NAK'd, like the real broker). */
  private final class SlowCreateBroker(createDelayMs: Long)
      extends AutoCloseable {
    val creates = new AtomicInteger()
    val naks = new AtomicInteger()
    private val topics = ConcurrentHashMap.newKeySet[String]()
    private val server = new java.net.ServerSocket(0, 50,
      java.net.InetAddress.getLoopbackAddress)
    def addr: String = s"127.0.0.1:${server.getLocalPort}"
    private val pool = Executors.newFixedThreadPool(12)
    pool.submit(new Runnable {
      override def run(): Unit =
        try while (true) {
          val sock = server.accept()
          pool.submit(new Runnable { override def run(): Unit = serve(sock) })
        } catch { case _: java.io.IOException => } // closed
    })

    private def serve(sock: java.net.Socket): Unit = {
      val in = new java.io.DataInputStream(
        new java.io.BufferedInputStream(sock.getInputStream))
      val out = new java.io.DataOutputStream(sock.getOutputStream)
      try while (true) {
        in.readByte() match {
          case NetWire.CmdCreate =>
            val topic = in.readUTF()
            creates.incrementAndGet()
            Thread.sleep(createDelayMs)
            topics.add(topic)
            out.writeByte(NetWire.Ack.toInt)
          case _ =>
            val topic = in.readUTF()
            in.readFully(new Array[Byte](in.readInt()))
            (0 until in.readInt()).foreach { _ => in.readUTF(); in.readUTF() }
            if (topics.contains(topic)) out.writeByte(NetWire.Ack.toInt)
            else { naks.incrementAndGet(); out.writeByte(NetWire.Nak.toInt) }
        }
        out.flush()
      } catch { case _: Exception => } finally sock.close()
    }

    override def close(): Unit = { server.close(); pool.shutdownNow(); () }
  }

  test("net transport: concurrent ensureTopic waits for the one CREATE's ack") {
    val b = new SlowCreateBroker(createDelayMs = 200)
    NetPublisher.reset()
    val threads = 8
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val t = NetTransport(b.addr)
      val start = new CountDownLatch(1)
      val results = (1 to threads).map { i =>
        pool.submit(new Callable[Unit] {
          override def call(): Unit = {
            start.await()
            t.ensureTopic("t_race")
            t.publishPartition(
              Iterator(("t_race", s"m$i", Map.empty[String, String])))
          }
        })
      }
      start.countDown()
      val failed = results.flatMap(f =>
        scala.util.Try(f.get(30, TimeUnit.SECONDS))
          .failed.toOption)
      assert(failed.isEmpty && b.naks.get == 0,
        s"${failed.size} of $threads publishes failed, ${b.naks.get} NAKs: " +
          failed.headOption.map(_.toString).getOrElse(""))
      assert(b.creates.get == 1, s"broker saw ${b.creates.get} CREATEs")
    } finally { pool.shutdownNow(); b.close() }
  }
}
