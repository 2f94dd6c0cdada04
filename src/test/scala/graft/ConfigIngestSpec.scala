package graft

import graft.streaming.{IngestServer, StreamMetrics, Streams}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

/** R15 config surface + R1 HTTP ingest shim: the unified `spark.graft.*`
  * namespace round-trips, and a POSTed changefeed file travels the whole
  * bridge — HTTP receipt → landed file → stream → partitioned sink. */
class ConfigIngestSpec extends AnyFunSuite {
  import TestSpark._

  private val payload = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_totalprice", DoubleType)))

  private def tmp(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p.toString
  }

  private def withConf(kv: (String, String)*)(body: => Unit): Unit = {
    try { kv.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("s_config / GraftConfig: defaults mirror the reference flag table") {
    val cfg = GraftConfig.from(spark)
    assert(cfg.topicPrefix == "")           // --topicPrefix
    assert(cfg.sharedKeys.isEmpty)          // --sharedKey nil
    assert(!cfg.dumpOnly)                   // --dumpOnly false
    assert(cfg.credentials.isEmpty)         // --credentials ""
  }

  test("GraftConfig: credentials path validated fatally, like --credentials") {
    // readable file → accepted and surfaced
    val f = java.io.File.createTempFile("graft_creds", ".json")
    try {
      java.nio.file.Files.write(f.toPath, "{}".getBytes)
      withConf("spark.graft.credentials" -> f.getAbsolutePath) {
        assert(GraftConfig.from(spark).credentials
          .contains(f.getAbsolutePath))
      }
      // unreadable path → fatal at config time, before any traffic
      // (main.go:35 + server.go:50-57: bad creds kill the process)
      withConf("spark.graft.credentials" -> (f.getAbsolutePath + ".nope")) {
        intercept[IllegalArgumentException](GraftConfig.from(spark))
      }
    } finally { f.delete(); () }
  }

  test("GraftConfig: spark.graft.* keys round-trip, incl. key rotation list") {
    withConf(
      "spark.graft.topicPrefix" -> "cdc-",
      "spark.graft.sharedKeys" -> "k1, k2rotation",
      "spark.graft.dumpOnly" -> "true",
      "spark.graft.sfDir" -> "/root/testdata/sf0.001") {
      val cfg = GraftConfig.from(spark)
      assert(cfg.topicPrefix == "cdc-")
      assert(cfg.sharedKeys == Set("k1", "k2rotation"))
      assert(cfg.dumpOnly)
      assert(cfg.sfDir == "/root/testdata/sf0.001")
    }
  }

  private def ts33(n: Int): String = "0" * 30 + f"$n%03d"
  private def upd(k: Long): String = f"$k%023d.0000000001"
  private def envLine(k: Long): String =
    s"""{"after": {"o_orderkey": $k, "o_custkey": ${k % 10}, "o_totalprice": ${k * 10}.5}, "key": [$k], "updated": "${upd(k)}"}"""

  test("s_http_ingest / R1 end-to-end: POST -> 201 landed file -> stream -> partitioned sink") {
    val landing = tmp("http-landing"); val out = tmp("http-out")
    val srv = new IngestServer(":0", landing, Set("k1"))
    try {
      val client = HttpClient.newHttpClient()
      def post(path: String, body: String): Int =
        client.send(
          HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${srv.port}$path"))
            .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString()).statusCode()

      val good = s"/ord_topic/2024-01-01/${ts33(1)}-u1-orders-1.ndjson"
      assert(post(s"$good?sharedKey=k1",
        Seq(envLine(1), envLine(2)).mkString("\n")) == 201)
      // 401 without landing: the producer is told, nothing hits the dir
      assert(post(s"$good?sharedKey=wrong", envLine(9)) == 401)
      assert(post(good, envLine(9)) == 401) // missing key
      // method + traversal guards
      assert(client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${srv.port}/x?sharedKey=k1")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).statusCode() == 405)
      assert(post("/../../etc/owned?sharedKey=k1", "x") == 400)
      assert(srv.landedCount == 1 && srv.rejectedCount == 2)
      // the landed path carries the sharedKey segment authFilter expects
      val landedFile = Paths.get(landing, "sharedKey=k1",
        good.stripPrefix("/"))
      assert(Files.exists(landedFile))

      // the Spark side of the bridge picks the file up like any file drop
      withConf(
        "spark.graft.sharedKeys" -> "k1",
        "spark.graft.topicPrefix" -> "cdc-") {
        val q = Streams.publishPipeline(spark, landing, out,
          tmp("http-ckpt"), payload)
        q.processAllAvailable()
        q.stop()
      }
      val published = spark.read.parquet(s"$out/data")
      assert(published.count() == 2)
      assert(published.filter(col("topic") === "cdc-ord_topic").count() == 2)
      assert(published
        .filter(element_at(col("attributes"), "table") === "orders")
        .count() == 2)
    } finally srv.close()
  }

  test("a rejected POST on a kept-alive connection answers without a Nagle stall") {
    // A reply body written after the flushed headers waits under Nagle
    // for the client's delayed ACK (about 40 ms); a headers-only 401
    // leaves in one segment. One raw socket, so every POST reuses it.
    val srv = new IngestServer(":0", tmp("http-401"), Set("k1"))
    val sock = new java.net.Socket("127.0.0.1", srv.port)
    try {
      val out = sock.getOutputStream
      val in = new java.io.BufferedInputStream(sock.getInputStream)
      def readLine(): String = {
        val b = new StringBuilder
        var c = in.read()
        while (c != '\n' && c != -1) { if (c != '\r') b += c.toChar; c = in.read() }
        b.toString
      }
      val body = envLine(1)
      val ms = (1 to 15).map { i =>
        val t0 = System.nanoTime()
        out.write((s"POST /t/2024-01-01/${ts33(i)}-u$i-orders-1.ndjson" +
          s"?sharedKey=wrong HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
          s"Content-Length: ${body.length}\r\n\r\n$body").getBytes("UTF-8"))
        out.flush()
        val status = readLine()
        val headers = Iterator.continually(readLine()).takeWhile(_.nonEmpty)
          .toList
        val len = headers.collectFirst {
          case h if h.toLowerCase.startsWith("content-length:") =>
            h.split(":", 2)(1).trim.toInt
        }.getOrElse(0)
        (1 to len).foreach(_ => in.read())
        assert(status.startsWith("HTTP/1.1 401"), status)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      assert(ms(ms.length / 2) < 20.0,
        s"median 401 round trip ${ms(ms.length / 2)} ms: ${ms.mkString(", ")}")
      assert(srv.rejectedCount == 15)
    } finally { sock.close(); srv.close() }
  }

  test("no sharedKeys configured => no auth, like the reference's len(keys)>0 gate") {
    val landing = tmp("noauth-landing"); val out = tmp("noauth-out")
    val srv = new IngestServer(":0", landing, Set.empty)
    try {
      val client = HttpClient.newHttpClient()
      val path = s"/ord_topic/2024-01-01/${ts33(5)}-u5-orders-1.ndjson"
      val code = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${srv.port}$path")) // NO sharedKey param
          .POST(HttpRequest.BodyPublishers.ofString(envLine(5))).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode()
      assert(code == 201, "keyless POST must be accepted when no keys are set")
      assert(srv.rejectedCount == 0 && srv.landedCount == 1)
      // lands at the raw path — no sharedKey= segment to carry
      assert(Files.exists(Paths.get(landing, path.stripPrefix("/"))))

      // stream side mirrors it: empty spark.graft.sharedKeys => authFilter
      // passes every row (rejected_401 stays 0) instead of dropping all
      withConf("spark.graft.topicPrefix" -> "cdc-") { // sharedKeys unset
        val q = Streams.publishPipeline(spark, landing, out,
          tmp("noauth-ckpt"), payload)
        q.processAllAvailable()
        q.stop()
      }
      val published = spark.read.parquet(s"$out/data")
      assert(published.count() == 1,
        "default (empty) key set must publish, not reject, every row")
    } finally srv.close()
  }

  test("s_metrics + s_healthz / R14: /metrics round-trips counters; /healthz drains to 503") {
    val landing = tmp("metrics-landing"); val out = tmp("metrics-out")
    val srv = new IngestServer(":0", landing, Set("k1"),
      extraMetrics = () => StreamMetrics.snapshot(spark))
    try {
      val client = HttpClient.newHttpClient()
      def get(path: String): HttpResponse[String] = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${srv.port}$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      def post(path: String, body: String): Int = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${srv.port}$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode()

      val h = get("/healthz")
      assert(h.statusCode() == 200 && h.body() == "OK")

      val good = s"/ord_topic/2024-01-01/${ts33(7)}-u7-orders-1.ndjson"
      assert(post(s"$good?sharedKey=k1",
        Seq(envLine(7), envLine(8)).mkString("\n")) == 201)
      assert(post(s"$good?sharedKey=nope", envLine(9)) == 401)

      // the shim's own counters round-trip over HTTP as JSON
      val m1 = get("/metrics")
      assert(m1.statusCode() == 200)
      assert(m1.headers().firstValue("Content-Type")
        .orElse("") == "application/json")
      assert(m1.body().contains(""""landed": 1"""))
      assert(m1.body().contains(""""rejected_401": 1"""))

      // with the publish stream ACTIVE, its progress + observe() metrics
      // appear on the same endpoint (the reference exposes unroutable
      // paths as HTTP 404s, publisher.go:161-165 — here it's a counter)
      withConf(
        "spark.graft.sharedKeys" -> "k1",
        "spark.graft.topicPrefix" -> "cdc-") {
        val q = Streams.publishPipeline(spark, landing, out,
          tmp("metrics-ckpt"), payload)
        try {
          q.processAllAvailable()
          val body = get("/metrics").body()
          assert(body.contains(".batch_id\": "))
          assert(body.contains(".route_publish.unroutable_404\": "))
          assert(body.contains(".route_publish.rows_seen\": "))
        } finally q.stop()
      }

      // drain: healthz flips to 503 while already-accepted work finishes
      // (reference cancel-then-drain, server.go:86-96); ingest keeps
      // draining until close()
      srv.beginShutdown()
      assert(get("/healthz").statusCode() == 503)
      assert(get("/metrics").statusCode() == 200,
        "metrics must stay readable during the drain window")
    } finally srv.close()
  }

  test("R14: /metrics replies 500 when the metrics source throws (stopped session)") {
    val srv = new IngestServer(":0", tmp("metrics-throw"), Set.empty,
      extraMetrics =
        () => throw new IllegalStateException("SparkSession stopped"))
    try {
      val r = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${srv.port}/metrics")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      // a scraper must see an explicit 500, not a dropped connection
      assert(r.statusCode() == 500)
      assert(r.body().contains("SparkSession stopped"))
    } finally srv.close()
  }

  test("R14: /debug/pprof profile + goroutine parity surface") {
    val srv = new IngestServer(":0", tmp("pprof-landing"), Set.empty)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val burner = new Thread(() => ProfilerBurn.spin(stop), "pprof-burner")
    burner.setDaemon(true); burner.start()
    try {
      val client = HttpClient.newHttpClient()
      def get(path: String): HttpResponse[String] = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${srv.port}$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())

      // CPU profile: collapsed-stack lines, and the planted busy loop is
      // the hottest thing on an idle box — its frame must be sampled
      val p = get("/debug/pprof/profile?seconds=1&hz=100")
      assert(p.statusCode() == 200)
      val lines = p.body().linesIterator.filter(_.nonEmpty).toSeq
      assert(lines.nonEmpty, "an active JVM must yield RUNNABLE samples")
      assert(lines.forall(_.matches(".+ \\d+")),
        s"collapsed-stack shape violated: ${lines.take(3).mkString(" | ")}")
      assert(lines.exists(_.contains("ProfilerBurn")),
        "the planted busy loop must appear in the CPU profile")

      // goroutine-dump analogue: every thread with name, state, frames
      val g = get("/debug/pprof/goroutine")
      assert(g.statusCode() == 200)
      assert(g.body().contains("[pprof-burner]: RUNNABLE"))
      assert(g.body().contains("[main]"))

      // a long profile must NOT starve the health probe (handlers run on
      // a pool, not the single dispatcher thread)
      val inflight = java.util.concurrent.CompletableFuture.supplyAsync(
        () => get("/debug/pprof/profile?seconds=3&hz=20"))
      Thread.sleep(300) // the profile is now mid-sample
      val t0 = System.nanoTime()
      assert(get("/healthz").statusCode() == 200)
      val healthzMillis = (System.nanoTime() - t0) / 1000000L
      assert(healthzMillis < 1000,
        s"/healthz took ${healthzMillis}ms while a profile was in flight")
      assert(inflight.get().statusCode() == 200)
    } finally { stop.set(true); srv.close() }
  }

  test("pprof endpoints enforce the sharedKey gate and a single profile permit") {
    // Round-8 ADVICE: profiling is MORE sensitive than ingest, so the
    // same auth gate applies, and concurrent profile runs are capped at
    // one (a 30s x 250Hz sampler is a CPU amplification primitive).
    val srv = new IngestServer(":0", tmp("pprof-auth"), Set("k1"))
    try {
      val client = HttpClient.newHttpClient()
      def get(path: String): HttpResponse[String] = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${srv.port}$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())

      val before = srv.rejectedCount
      assert(get("/debug/pprof/goroutine").statusCode() == 401)
      assert(get("/debug/pprof/profile?seconds=1").statusCode() == 401)
      assert(get("/debug/pprof/profile?seconds=1&sharedKey=wrong").statusCode() == 401)
      assert(srv.rejectedCount == before + 3,
        "unauthenticated pprof hits must count as rejections")
      assert(get("/debug/pprof/goroutine?sharedKey=k1").statusCode() == 200)

      // single permit: while one profile samples, a second gets 429 and
      // the first still completes
      val inflight = java.util.concurrent.CompletableFuture.supplyAsync(
        () => get("/debug/pprof/profile?seconds=2&hz=20&sharedKey=k1"))
      Thread.sleep(400) // first profile is now mid-sample
      assert(get("/debug/pprof/profile?seconds=1&sharedKey=k1").statusCode() == 429)
      assert(inflight.get().statusCode() == 200)
      // permit released after completion: a fresh profile succeeds
      assert(get("/debug/pprof/profile?seconds=1&hz=50&sharedKey=k1").statusCode() == 200)
    } finally srv.close()
  }

  test("concurrent POSTs land atomically: N complete files, exact counters") {
    val landing = tmp("http-concurrent")
    val srv = new IngestServer(":0", landing, Set("k1"))
    try {
      val client = HttpClient.newHttpClient()
      val n = 64
      // payload big enough that a non-atomic write would be observable as
      // a torn file; every body distinct so content checks catch mixups
      def body(i: Int): String =
        (1 to 200).map(j => envLine(i * 1000L + j)).mkString("\n")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
      try {
        val futures = (0 until n).map { i =>
          pool.submit(new java.util.concurrent.Callable[Int] {
            def call(): Int = client.send(
              HttpRequest.newBuilder(URI.create(
                s"http://127.0.0.1:${srv.port}/t/2024-01-01/${ts33(i)}-u$i-orders-1.ndjson?sharedKey=k1"))
                .POST(HttpRequest.BodyPublishers.ofString(body(i))).build(),
              HttpResponse.BodyHandlers.ofString()).statusCode()
          })
        }
        assert(futures.forall(_.get() == 201), "every concurrent POST acks 201")
      } finally pool.shutdown()
      assert(srv.landedCount == n && srv.rejectedCount == 0)
      val dir = Paths.get(landing, "sharedKey=k1", "t", "2024-01-01")
      val files = Files.list(dir).toArray.map(_.toString).sorted
      assert(files.length == n, s"expected $n landed files, got ${files.length}")
      assert(!files.exists(_.contains(".tmp")), "no tmp residue may remain")
      (0 until n).foreach { i =>
        val f = Paths.get(dir.toString, s"${ts33(i)}-u$i-orders-1.ndjson")
        assert(Files.readString(f) == body(i),
          s"file $i torn or mixed up under concurrency")
      }
    } finally srv.close()
  }

  test("dumpOnly: pipeline logs instead of publishing (R10)") {
    val landing = tmp("dump-landing"); val out = tmp("dump-out")
    val p = Paths.get(landing,
      s"sharedKey=k1/ord_topic/2024-01-01/${ts33(1)}-u1-orders-1.ndjson")
    Files.createDirectories(p.getParent)
    Files.writeString(p, envLine(1))
    withConf(
      "spark.graft.sharedKeys" -> "k1",
      "spark.graft.dumpOnly" -> "true") {
      val q = Streams.publishPipeline(spark, landing, out,
        tmp("dump-ckpt"), payload)
      q.processAllAvailable()
      val progressed = q.recentProgress.nonEmpty
      q.stop()
      assert(progressed)
    }
    assert(!Files.exists(Paths.get(out, "data")), "dumpOnly must not publish")
  }
}

/** A deliberately-named CPU burner so the /debug/pprof/profile test can
  * assert its own frame shows up in the sampled collapsed stacks. */
object ProfilerBurn {
  def spin(stop: java.util.concurrent.atomic.AtomicBoolean): Long = {
    var x = 0L
    while (!stop.get()) { x += java.util.concurrent.ThreadLocalRandom.current().nextLong() }
    x
  }
}
