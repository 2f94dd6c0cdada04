package graft.streaming

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

/** R1: the HTTP ingest front-end (publisher.go:137-214, registration at
  * server.go:76-80) as a thin shim OUTSIDE Spark: CRDB's
  * `experimental-http://` sink POSTs each changefeed file; this server
  * checks the sharedKey query parameter (publisher.go:144-150 → 401),
  * lands the body atomically in the ingest directory with the key encoded
  * in the landed path (`sharedKey=<k>/<url-path>`) so the streaming
  * authFilter sees exactly what the file-drop path sees, and acks 201
  * (publisher.go:170). Routing/404 stays downstream in Streams.route — the
  * shim's only job is durable receipt, so a 201 means "on disk", the same
  * promise the reference's 200 made only after the publish future resolved
  * (the §8-B2 async-ack bug is structurally impossible here).
  *
  * Deliberately plain JDK HttpServer, zero Spark involvement: ingest is a
  * single-node concern (N shims can land into the same directory /
  * distributed store; the directory source scales by file listing, not by
  * receiver count).
  */
final class IngestServer(bindAddr: String, landingDir: String,
  sharedKeys: Set[String],
  extraMetrics: () => Map[String, Long] = () => Map.empty)
  extends AutoCloseable {

  private val rejected = new AtomicLong(0)
  private val landed = new AtomicLong(0)
  def rejectedCount: Long = rejected.get()
  def landedCount: Long = landed.get()

  /** Flipped by beginShutdown(): /healthz answers 503 from then on while
    * in-flight ingest requests drain — the reference's exact contract
    * (server.go:65-73 serves 503 once ctx.Err() != nil, listener still
    * up until drained). */
  @volatile private var draining = false

  private val addr = bindAddr.split(":", 2) match {
    case Array("", p) => new InetSocketAddress(p.toInt) // ":13013"
    case Array(h, p)  => new InetSocketAddress(h, p.toInt)
    case _ => throw new IllegalArgumentException(s"bad bindAddr $bindAddr")
  }

  /** The request's `sharedKey` query parameter, "" when absent. */
  private def sharedKey(ex: HttpExchange): String =
    IngestServer.queryParam(ex.getRequestURI.getQuery, "sharedKey")
      .getOrElse("")

  /** No keys configured => NO auth check, mirroring the reference's
    * `if len(p.keys) > 0` gate (publisher.go:143-150). */
  private def authorized(key: String): Boolean =
    sharedKeys.isEmpty || sharedKeys.contains(key)

  private val server = HttpServer.create(addr, 0)
  // Without an executor every handler shares the ONE dispatcher thread —
  // a blocking /debug/pprof/profile would starve /healthz and ingest for
  // its whole sampling window. Cached daemon pool: idle costs nothing,
  // concurrent probes + profiles + uploads never queue behind each other.
  server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(
    (r: Runnable) => {
      val t = new Thread(r, "graft-ingest-http")
      t.setDaemon(true)
      t
    }))
  server.createContext("/", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      try {
        if (ex.getRequestMethod != "POST") { status(ex, 405) }
        else {
          val key = sharedKey(ex)
          if (!authorized(key)) {
            rejected.incrementAndGet() // the 401 the producer sees
            status(ex, 401)
          } else {
            val rel = ex.getRequestURI.getPath.stripPrefix("/")
            // Encode the accepted key into the landed path for the stream's
            // authFilter; with auth off there is no key segment to carry.
            val dest = (if (sharedKeys.isEmpty) Paths.get(landingDir, rel)
              else Paths.get(landingDir, s"sharedKey=$key", rel))
              .normalize()
            // path traversal guard: the landed file must stay inside the
            // landing dir even for a hostile ../ URL
            if (!dest.startsWith(Paths.get(landingDir).normalize())) {
              status(ex, 400)
            } else {
              Files.createDirectories(dest.getParent)
              // land atomically: directory sources must never list a
              // half-written file (write tmp, move into place); delete the
              // tmp on ANY failure so aborted uploads leave no residue
              val tmp = Files.createTempFile(dest.getParent, ".land", ".tmp")
              try {
                Files.copy(ex.getRequestBody, tmp,
                  java.nio.file.StandardCopyOption.REPLACE_EXISTING)
                Files.move(tmp, dest,
                  java.nio.file.StandardCopyOption.ATOMIC_MOVE,
                  java.nio.file.StandardCopyOption.REPLACE_EXISTING)
              } catch { case e: Throwable =>
                Files.deleteIfExists(tmp)
                throw e
              }
              landed.incrementAndGet()
              status(ex, 201)
            }
          }
        }
      } catch {
        case e: Exception => reply(ex, 500, s"ingest failure: ${e.getMessage}")
      } finally ex.close()
    }
  })
  // R13 over HTTP: liveness probe, 200 "OK" while serving, 503 once a
  // drain begins (server.go:65-73). JDK HttpServer routes by longest
  // context prefix, so these never shadow the ingest root above.
  server.createContext("/healthz", new HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      try {
        if (ex.getRequestMethod != "GET") status(ex, 405)
        else if (!draining) reply(ex, 200, "OK")
        else reply(ex, 503, "shutting down")
      } finally ex.close()
  })

  // R14 parity: the reference's operational surface (server.go:60-64
  // mounts pprof; Spark's profiling lives in the Spark UI instead) —
  // served here as a JSON counter dump: the shim's own rejected_401 /
  // landed plus whatever the caller wires in via extraMetrics (e.g.
  // StreamMetrics.snapshot for per-query StreamingQueryProgress and
  // observed metrics like route_publish.unroutable_404).
  server.createContext("/metrics", new HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      try {
        if (ex.getRequestMethod != "GET") status(ex, 405)
        else try {
          val m = Map("rejected_401" -> rejected.get(),
            "landed" -> landed.get()) ++ extraMetrics()
          // keys contain caller-chosen query names: escape for JSON
          def esc(k: String): String = k.flatMap {
            case '"' => "\\\""
            case '\\' => "\\\\"
            case c if c < ' ' => f"\\u${c.toInt}%04x"
            case c => c.toString
          }
          val json = m.toSeq.sortBy(_._1)
            .map { case (k, v) => s""""${esc(k)}": $v""" }
            .mkString("{", ", ", "}")
          reply(ex, 200, json, "application/json")
        } catch {
          // extraMetrics() can throw if e.g. the SparkSession was stopped
          // while the HTTP server is still up (round-5 advice): reply 500
          // instead of silently dropping the connection on the scraper.
          case e: Exception => reply(ex, 500, s"metrics failure: ${e.getMessage}")
        }
      } finally ex.close()
  })

  // R14, faithful path: the reference mounts pprof at /debug/pprof
  // (server.go:60-64). CPU profile = stack sampling in collapsed-stack
  // form; goroutine dump = JVM thread dump. See Profiler for contract.
  //
  // Round-8 ADVICE hardening: these endpoints enforce the SAME sharedKey
  // gate as ingest (a full-JVM stack sampler and thread dumps are more
  // sensitive than an upload path, not less), and the profiler takes a
  // single-permit semaphore — a 30s x 250Hz sampler is a CPU
  // amplification primitive if N can run concurrently, so the second
  // concurrent caller gets 429 instead of a thread.
  private val profilePermit = new java.util.concurrent.Semaphore(1)
  server.createContext("/debug/pprof/profile", new HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      try {
        if (ex.getRequestMethod != "GET") status(ex, 405)
        else if (!authorized(sharedKey(ex))) {
          rejected.incrementAndGet()
          status(ex, 401)
        } else if (!profilePermit.tryAcquire()) {
          status(ex, 429)
        } else {
          try {
            val q = ex.getRequestURI.getQuery
            val secs = Profiler.intParam(q, "seconds", 2)
            val hz = Profiler.intParam(q, "hz", 100)
            reply(ex, 200, Profiler.collapsedCpuProfile(secs, hz))
          } finally profilePermit.release()
        }
      } catch {
        case e: Exception => reply(ex, 500, s"profile failure: ${e.getMessage}")
      } finally ex.close()
  })
  server.createContext("/debug/pprof/goroutine", new HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      try {
        if (ex.getRequestMethod != "GET") status(ex, 405)
        else if (!authorized(sharedKey(ex))) {
          rejected.incrementAndGet()
          status(ex, 401)
        } else reply(ex, 200, Profiler.threadDump())
      } catch {
        case e: Exception => reply(ex, 500, s"dump failure: ${e.getMessage}")
      } finally ex.close()
  })

  server.start()

  /** The port actually bound (supports bindAddr ":0" in tests). */
  def port: Int = server.getAddress.getPort

  /** Start a graceful drain: /healthz flips to 503 (load balancers stop
    * sending) while already-accepted POSTs finish; call close() after
    * the producer quiesces. Mirrors the reference's cancel-then-drain
    * sequence (server.go:86-96). */
  def beginShutdown(): Unit = draining = true

  /** Headers only, so the reply leaves in one segment: a body written
    * after the flushed headers waits under Nagle for the client's
    * delayed ACK, about 40 ms per request on a kept-alive connection.
    * The ack and every refusal go this way; their codes say it all. */
  private def status(ex: HttpExchange, code: Int): Unit =
    ex.sendResponseHeaders(code, -1)

  private def reply(ex: HttpExchange, code: Int, msg: String,
    contentType: String = "text/plain"): Unit = {
    val b = msg.getBytes("UTF-8")
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, b.length.toLong)
    ex.getResponseBody.write(b)
  }

  override def close(): Unit = { draining = true; server.stop(0) }
}

object IngestServer {
  /** The first `name=` value in a URL query string (null = no query). */
  private[streaming] def queryParam(query: String, name: String): Option[String] =
    Option(query).getOrElse("").split("&").collectFirst {
      case kv if kv.startsWith(s"$name=") => kv.substring(name.length + 1)
    }
}
