package graft

import graft.streaming.{NetBroker, NetPublisher, NetTransport,
  PublishTransport}
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
}
