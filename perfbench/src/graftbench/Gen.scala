package graftbench

import java.io.{BufferedInputStream, BufferedOutputStream, InputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicInteger

/** Kinds of changefeed POST the generator sends. */
object Kind {
  val Data = "data"          // routable rows, good key: 201, then delivered
  val Resolved = "resolved"  // a .RESOLVED marker: delivered with table=RESOLVED
  val BadKey = "badkey"      // wrong sharedKey: 401, never delivered
  val Unroutable = "unroutable" // good key, path outside the grammar: __dead_letter
}

/** One changefeed file to POST. `dueNs` is relative to the schedule start;
  * `timed` marks the measured window (the rest is warm-up). */
final case class Post(idx: Int, kind: String, topic: String, table: String,
    urlPath: String, key: String, dueNs: Long, rows: Int, timed: Boolean) {
  def lines(seed: Long): Array[String] = Changefeed.lines(seed, this)
  def body(seed: Long): Array[Byte] =
    lines(seed).iterator.map(_ + "\n").mkString.getBytes(UTF_8)
}

/** Deterministic changefeed traffic: the same seed and shape give the same
  * paths, keys and payload bytes, in this process and in the generator's. */
object Changefeed {
  val goodKey = "k1"
  val tables: Seq[String] = Seq("orders", "customer", "lineitem")

  private def ts33(seed: Long, idx: Int): String =
    f"${1700000000000000000L + (seed % 1000) * 1000000L + idx}%033d"

  def lines(seed: Long, p: Post): Array[String] =
    if (p.kind == Kind.Resolved)
      Array(s"""{"resolved": "${ts33(seed, p.idx)}.0000000000"}""")
    else {
      val rnd = new SplittableRandom(seed * 1000003L + p.idx)
      Array.tabulate(p.rows) { i =>
        val k = p.idx.toLong * 100000L + i
        val upd = s"${ts33(seed, p.idx)}.${f"$i%010d"}"
        if (rnd.nextInt(20) == 0)
          s"""{"after": null, "key": [$k], "updated": "$upd"}"""
        else
          s"""{"after": {"o_orderkey": $k, "o_custkey": ${rnd.nextInt(15000)}, """ +
            s""""o_totalprice": ${rnd.nextInt(50000000) / 100.0}}, """ +
            s""""key": [$k], "updated": "$upd"}"""
      }
    }

  private def mk(seed: Long, idx: Int, kind: String, topic: String,
      rnd: SplittableRandom, dueNs: Long, rows: Int, timed: Boolean): Post = {
    val table = if (kind == Kind.Resolved) "RESOLVED"
      else tables(rnd.nextInt(tables.size))
    val path = kind match {
      case Kind.Resolved => s"/$topic/2024-01-01/${ts33(seed, idx)}.RESOLVED"
      case Kind.Unroutable => s"/$topic/2024-01-01/misc-u$idx.ndjson"
      case _ => s"/$topic/2024-01-01/${ts33(seed, idx)}-u$idx-$table-1.ndjson"
    }
    Post(idx, kind, topic, table, path,
      if (kind == Kind.BadKey) "bad" + rnd.nextInt(1000) else goodKey,
      dueNs, rows, timed)
  }

  /** Open-loop traffic: `filesPerS` data files of `rows` rows spread over
    * `topics` topics, one .RESOLVED per topic per second, about 1% bad-key
    * and 1% unroutable POSTs; `warmupS` seconds of warm-up then `seconds`
    * measured seconds. */
  def steady(seed: Long, filesPerS: Int, rows: Int, topics: Int,
      warmupS: Int, seconds: Int): Vector[Post] = {
    val rnd = new SplittableRandom(seed)
    val total = warmupS + seconds
    val out = Vector.newBuilder[Post]
    var idx = 0
    val dataGap = 1000000000L / filesPerS
    for (f <- 0 until filesPerS * total) {
      val due = f * dataGap
      val r = rnd.nextInt(100)
      val kind = if (r == 0) Kind.BadKey else if (r == 1) Kind.Unroutable else Kind.Data
      out += mk(seed, idx, kind, s"t${rnd.nextInt(topics)}", rnd, due, rows,
        due >= warmupS * 1000000000L)
      idx += 1
    }
    val resolvedGap = 1000000000L / topics
    for (s <- 0 until total; t <- 0 until topics) {
      val due = s * 1000000000L + t * resolvedGap + dataGap / 2
      out += mk(seed, idx, Kind.Resolved, s"t$t", rnd, due, 1, s >= warmupS)
      idx += 1
    }
    out.result().sortBy(p => (p.dueNs, p.idx))
  }

  /** A backlog of `files` files of `rows` rows over `topics` topics, all
    * routable with the good key; due times are all 0 (closed loop). */
  def backlog(seed: Long, files: Int, rows: Int, topics: Int,
      firstIdx: Int): Vector[Post] = {
    val rnd = new SplittableRandom(seed ^ 0x5deece66dL)
    Vector.tabulate(files) { f =>
      mk(seed, firstIdx + f, Kind.Data, s"t${f % topics}", rnd, 0L, rows, true)
    }
  }
}

/** The outcome of one POST, on the shared monotonic clock. `pickNs` is
  * when a connection became free for it, `sendNs` when its first byte was
  * written, `ackNs` when its whole response had arrived. */
final case class Sent(idx: Int, dueNs: Long, pickNs: Long, sendNs: Long,
    ackNs: Long, status: Int)

/** A minimal HTTP/1.1 client on one kept-alive connection, as CRDB's
  * changefeed sink reuses its connections. */
final class KeepAliveClient(host: String, port: Int) extends AutoCloseable {
  private val sock = new Socket(host, port)
  sock.setTcpNoDelay(true)
  private val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
  private val in = new BufferedInputStream(sock.getInputStream)

  private def readLine(s: InputStream): String = {
    val sb = new StringBuilder
    var c = s.read()
    while (c != -1 && c != '\n') { if (c != '\r') sb.append(c.toChar); c = s.read() }
    if (c == -1 && sb.isEmpty) throw new java.io.EOFException("connection closed")
    sb.toString
  }

  /** POSTs `body` and returns (status, nanoTime when the whole response had
    * arrived: the moment the sender may reuse the connection). */
  def post(pathAndQuery: String, body: Array[Byte]): (Int, Long) = {
    val head = s"POST $pathAndQuery HTTP/1.1\r\nHost: $host:$port\r\n" +
      s"Content-Type: application/x-ndjson\r\nContent-Length: ${body.length}\r\n\r\n"
    out.write(head.getBytes(ISO_8859_1))
    out.write(body)
    out.flush()
    val status = readLine(in).split(" ")(1).toInt
    var len = 0
    var line = readLine(in)
    while (line.nonEmpty) {
      val i = line.indexOf(':')
      if (i > 0 && line.substring(0, i).trim.equalsIgnoreCase("content-length"))
        len = line.substring(i + 1).trim.toInt
      line = readLine(in)
    }
    var left = len
    while (left > 0) { if (in.read() < 0) left = 0 else left -= 1 }
    (status, System.nanoTime())
  }

  override def close(): Unit = sock.close()
}

/** The load generator. It runs as its own process, sends on at most
  * `conns` kept-alive connections and times every request from its due
  * time, so a slow server shows as latency, not as a slower schedule.
  *
  * Usage: Gen <port> <seed> <plan-file> <conns> <log-file>. The plan file
  * names the traffic (`steady <filesPerS> <rows> <topics> <warmupS>
  * <seconds>` or `backlog <files> <rows> <topics> <firstIdx>`); the log gets
  * the schedule start and one line per POST. */
object Gen {
  def plan(seed: Long, spec: String): Vector[Post] = spec.trim.split(" ") match {
    case Array("steady", f, r, t, w, s) =>
      Changefeed.steady(seed, f.toInt, r.toInt, t.toInt, w.toInt, s.toInt)
    case Array("backlog", f, r, t, i) =>
      Changefeed.backlog(seed, f.toInt, r.toInt, t.toInt, i.toInt)
    case _ => throw new IllegalArgumentException(s"bad plan: $spec")
  }

  def run(port: Int, seed: Long, posts: Vector[Post], conns: Int): (Long, Vector[Sent]) = {
    val bodies = posts.map(_.body(seed))
    val clients = Vector.fill(conns)(new KeepAliveClient("127.0.0.1", port))
    val next = new AtomicInteger(0)
    val sent = new Array[Sent](posts.size)
    val start = System.nanoTime() + 100000000L
    val threads = clients.map { c =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < posts.size) {
          val p = posts(i)
          val due = start + p.dueNs
          val pick = System.nanoTime()
          var now = pick
          while (now < due) {
            java.util.concurrent.locks.LockSupport.parkNanos(due - now)
            now = System.nanoTime()
          }
          val (status, ack) = c.post(s"${p.urlPath}?sharedKey=${p.key}", bodies(i))
          sent(i) = Sent(p.idx, due, pick, now, ack, status)
          i = next.getAndIncrement()
        }
      }, "bench-gen")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    clients.foreach(_.close())
    (start, sent.toVector)
  }

  def main(args: Array[String]): Unit = {
    val Array(port, seed, planFile, conns, logFile) = args
    val posts = plan(seed.toLong, Files.readString(Paths.get(planFile)))
    val (start, sent) = run(port.toInt, seed.toLong, posts, conns.toInt)
    val lines = s"start $start" +: sent.map(s =>
      s"${s.idx} ${s.dueNs} ${s.pickNs} ${s.sendNs} ${s.ackNs} ${s.status}")
    Files.writeString(Paths.get(logFile), lines.mkString("", "\n", "\n"))
  }

  def readLog(logFile: String): (Long, Vector[Sent]) = {
    val ls = Files.readAllLines(Paths.get(logFile)).toArray(Array.empty[String]).toVector
    val start = ls.head.stripPrefix("start ").toLong
    (start, ls.tail.filter(_.nonEmpty).map { l =>
      val Array(i, d, p, s, a, st) = l.split(" ")
      Sent(i.toInt, d.toLong, p.toLong, s.toLong, a.toLong, st.toInt)
    })
  }
}
