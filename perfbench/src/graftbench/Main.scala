package graftbench

import graft.streaming.{IngestServer, NetTransport, Streams}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What one run measured. `e2e` and `layers` are keyed by metric name. */
final case class Outcome(attempted: Int, failed: Int, problems: Seq[String],
    e2e: Map[String, Double], layers: Map[String, Double])

/** Thrown when the generator, not the program, fell behind: the run is
  * refused rather than reported. */
final class GeneratorBehind(msg: String) extends RuntimeException(msg)

/** The benchmark's program: runs one workload against the graft build on
  * its classpath and prints one `RESULT {...}` line.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <work-dir>
  *   <fixture-dir> <warm-up-fixture-dir> <expected-digests.tsv> */
object Main {
  private val t0Ns = System.nanoTime()
  private val uptimeAtStartS =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
  /** Seconds since this process started, for a monotonic `ns` stamp. */
  def sinceStart(ns: Long): Double = uptimeAtStartS + (ns - t0Ns) / 1e9

  val cpus = 4
  val topics = 8
  val conns = 4
  /** Generator lateness (send time past due, with a connection free) above
    * which a run is refused, at the 99th percentile. */
  val maxGenLateMs = 50.0

  val payload: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_totalprice", DoubleType)))

  final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
      work: Path, tracer: Option[Tracer]) {
    def dir(name: String): String = {
      val p = work.resolve(name)
      Files.createDirectories(p)
      p.toAbsolutePath.toString
    }
    def span[T](kind: String, name: String, parent: String)(body: => T): T =
      tracer.fold(body)(_.span(kind, name, parent)(body))
  }

  def session(work: Path, analytics: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.graft.sharedKeys", Changefeed.goodKey)
    // The analytics fixture is single-row-group parquet, as the project's
    // Verify and Bench sessions assume.
    (if (analytics) b.config("spark.graft.singleRowgroupShim", "true")
      .config("spark.graft.allowQuadratic", "true") else b).getOrCreate()
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  def ms(ns: Long): Double = ns / 1e6

  // ------------------------------------------------------------ generator

  /** Runs the generator as its own process and returns its log. */
  def generate(c: Ctx, port: Int, spec: String, name: String): (Long, Vector[Sent]) = {
    val plan = c.work.resolve(s"$name.plan")
    val log = c.work.resolve(s"$name.log")
    Files.writeString(plan, spec)
    Files.deleteIfExists(log)
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val p = new ProcessBuilder(java, "-Xmx256m", "-cp",
      System.getProperty("java.class.path"), "graftbench.Gen", port.toString,
      c.seed.toString, plan.toString, conns.toString, log.toString)
      .redirectOutput(ProcessBuilder.Redirect.INHERIT)
      .redirectError(ProcessBuilder.Redirect.INHERIT)
      .start()
    try {
      if (!p.waitFor(150, TimeUnit.SECONDS))
        throw new IllegalStateException(s"generator $name did not finish")
      if (p.exitValue() != 0)
        throw new IllegalStateException(s"generator $name exited ${p.exitValue()}")
    } finally if (p.isAlive) { p.destroyForcibly(); p.waitFor() }
    Gen.readLog(log.toString)
  }

  /** Refuses the run when the generator sent late with a connection free. */
  def checkGenerator(sent: Seq[Sent]): Double = {
    val late = sent.map(s => ms(s.sendNs - math.max(s.dueNs, s.pickNs)))
    val p99 = if (late.isEmpty) 0.0 else late.sorted.apply(((late.size - 1) * 0.99).toInt)
    if (p99 > maxGenLateMs)
      throw new GeneratorBehind(f"generator late p99 $p99%.1f ms > $maxGenLateMs ms")
    Stats.percentile(late, 90).getOrElse(0.0)
  }

  // -------------------------------------------------------------- bridge

  def startNet(c: Ctx, landing: String, ep: StampingEndpoint, ckpt: String): StreamingQuery = {
    val routed = Streams.route(
      Streams.authFilter(
        Streams.parseEnvelope(Streams.ingestLines(c.spark, landing), payload),
        Set(Changefeed.goodKey)), "")
    Streams.routePublishNet(routed, NetTransport(ep.addr), ckpt)
  }

  /** Index of endpoint records by the part of the delivery path the
    * generator chose (`/sharedKey=<k>/<url path>`). */
  def bySuffix(recs: Map[String, PathRecord]): Map[String, (String, PathRecord)] =
    recs.flatMap { case (k, r) =>
      val i = k.indexOf("/sharedKey=")
      if (i < 0) None else Some(k.substring(i) -> (k, r))
    }

  /** Checks one POST's outcome at the endpoint; None when it is right. */
  def checkDelivered(seed: Long, p: Post, status: Int,
      recs: Map[String, (String, PathRecord)]): Option[String] = {
    val suffix = s"/sharedKey=${p.key}${p.urlPath}"
    if (p.kind == Kind.BadKey)
      if (status != 401) Some(s"${p.urlPath}: bad key got $status, not 401")
      else if (recs.keys.exists(_.endsWith(p.urlPath))) Some(s"${p.urlPath}: 401 POST delivered")
      else None
    else if (status != 201) Some(s"${p.urlPath}: got $status, not 201")
    else recs.get(suffix) match {
      case None => Some(s"${p.urlPath}: nothing delivered")
      case Some((full, r)) => r.synchronized {
        val hs = p.lines(seed).map(l => Digest.hash64(l))
        val (topic, attrs) =
          if (p.kind == Kind.Unroutable)
            ("__dead_letter", Map("path" -> full, "dl_reason" -> "unroutable_path"))
          else (p.topic, Map("path" -> full, "table" -> p.table))
        if (r.hashes.size != hs.distinct.length || r.hashSum != hs.sum)
          Some(s"${p.urlPath}: ${r.hashes.size} of ${hs.length} rows delivered or payload differs")
        else if (r.topics.asScala != Set(topic))
          Some(s"${p.urlPath}: topics ${r.topics} not $topic")
        else if (r.attrSets.asScala != Set(attrs))
          Some(s"${p.urlPath}: attributes ${r.attrSets} not $attrs")
        else None
      }
    }
  }

  /** Structured Streaming progress numbers of a set of epochs. */
  def epochLayers(prog: Seq[(Long, StreamingQueryProgress)]): Map[String, Double] = {
    def dur(k: String) = prog.map(_._2.durationMs.getOrDefault(k, 0L).toDouble)
    val trig = dur("triggerExecution")
    Map(
      "epoch.count" -> prog.size.toDouble,
      "epoch.trigger_ms_p50" -> p50(trig),
      "epoch.trigger_ms_max" -> (if (trig.isEmpty) 0.0 else trig.max),
      "epoch.latest_offset_ms_p50" -> p50(dur("latestOffset")),
      "epoch.planning_ms_p50" -> p50(dur("queryPlanning")),
      "epoch.wal_commit_ms_p50" -> p50(dur("walCommit")),
      "epoch.commit_ms_p50" -> p50(dur("commitOffsets")),
      "epoch.overhead_ms_p50" -> p50(prog.map { case (_, p) =>
        (p.durationMs.getOrDefault("triggerExecution", 0L) -
          p.durationMs.getOrDefault("addBatch", 0L)).toDouble }))
  }

  /** Median under the reporting rule, or the plain median of a small set. */
  def p50(xs: Seq[Double]): Double = Stats.percentile(xs, 50).getOrElse(Stats.median(xs))

  def observed(prog: Seq[(Long, StreamingQueryProgress)], name: String, field: String): Double =
    prog.map { case (_, p) =>
      Option(p.observedMetrics.get(name)).map(r => r.getAs[Long](field).toDouble).getOrElse(0.0)
    }.sum

  /** Drains whatever is landed under `landing` through the net sink from a
    * fresh checkpoint; returns (seconds, problems, per-file deliver ns
    * measured from the drain's start). */
  def drainNet(c: Ctx, landing: String, ckpt: String, ep: StampingEndpoint,
      posts: Seq[Post]): (Double, Seq[String], Seq[Long]) = {
    ep.clearPaths()
    val t0 = System.nanoTime()
    val q = startNet(c, landing, ep, ckpt)
    try q.processAllAvailable() finally q.stop()
    val sec = (System.nanoTime() - t0) / 1e9
    val recs = bySuffix(ep.records)
    val bad = posts.flatMap(p => checkDelivered(c.seed, p, 201, recs))
    (sec, bad, posts.filter(p => !bad.exists(_.startsWith(p.urlPath + ":")))
      .map(p => recs(s"/sharedKey=${p.key}${p.urlPath}")._2.lastNewNs - t0))
  }

  /** Drains through publishPipeline's dir sink and reads back what it
    * wrote; returns (seconds, problems, parquet files written). */
  def drainDir(c: Ctx, landing: String, ckpt: String, out: String,
      posts: Seq[Post]): (Double, Seq[String], Long) = {
    val t0 = System.nanoTime()
    val q = Streams.publishPipeline(c.spark, landing, out, ckpt, payload)
    try q.processAllAvailable() finally q.stop()
    val sec = (System.nanoTime() - t0) / 1e9
    val got = c.spark.read.parquet(s"$out/data")
      .select(col("topic"), col("attributes")("path").as("p"),
        col("attributes")("table").as("t"),
        conv(substring(md5(col("value")), 1, 15), 16, 10).cast("long").as("h"))
      .groupBy(regexp_extract(col("p"), "(/sharedKey=.*)$", 1).as("suffix"))
      .agg(countDistinct(col("h")).as("n"),
        sum_distinct(col("h").cast(DecimalType(38, 0))).as("s"),
        collect_set(col("topic")).as("topics"), collect_set(col("t")).as("tables"))
      .collect().map(r => r.getString(0) -> r).toMap
    val bad = posts.flatMap { p =>
      val hs = p.lines(c.seed).map(l => Digest.hash64(l) >>> 4)
      got.get(s"/sharedKey=${p.key}${p.urlPath}") match {
        case None => Some(s"${p.urlPath}: dir sink wrote nothing")
        case Some(r) if r.getLong(1) != hs.length ||
            BigInt(r.getDecimal(2).toBigInteger) != hs.map(BigInt(_)).sum =>
          Some(s"${p.urlPath}: dir sink rows differ")
        case Some(r) if r.getSeq[String](3).toSet != Set(p.topic) ||
            r.getSeq[String](4).toSet != Set(p.table) =>
          Some(s"${p.urlPath}: dir sink topic or table differ")
        case _ => None
      }
    }
    val files = Files.walk(Paths.get(out)).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet")).toLong
    (sec, bad, files)
  }

  /** The bridge: an open-loop window of changefeed POSTs through
    * IngestServer → ingestLines → parseEnvelope → authFilter → route →
    * routePublishNet, then a catch-up: a backlog POSTed back to back and
    * drained, twice through each sink, from fresh checkpoints. */
  def bridge(c: Ctx): Outcome = {
    val ep = new StampingEndpoint
    try bridgeWith(c, ep) finally ep.close()
  }

  private def bridgeWith(c: Ctx, ep: StampingEndpoint): Outcome = {
    val (filesPerS, rows, warmupS) = (20, 200, 6)
    val (files, fileRows, mft, drains) = (100, 1000, 25, 2)
    val problems = mutable.ArrayBuffer[String]()
    var attempted = 0
    var ckpts = 0
    def fresh(kind: String): String = { ckpts += 1; c.dir(s"$kind-$ckpts") }

    // ---- open loop
    val landing = c.dir("landing")
    val ingest = new IngestServer("127.0.0.1:0", landing, Set(Changefeed.goodKey))
    c.spark.conf.set("spark.graft.maxFilesPerTrigger", "0")
    val spec = s"steady $filesPerS $rows $topics $warmupS ${c.seconds}"
    val posts = Gen.plan(c.seed, spec)
    val byIdx = posts.map(p => p.idx -> p).toMap
    val (start, sent) = try {
      val q = startNet(c, landing, ep, fresh("ckpt"))
      try {
        // The query's first, cold epoch runs on a few files before the
        // open loop starts, so it does not leave a backlog in the window.
        c.span("phase", "first-epoch", "workload:bridge") {
          generate(c, ingest.port, s"backlog 4 $rows $topics 900000", "first")
          q.processAllAvailable()
        }
        val out = c.span("phase", "open-loop", "workload:bridge") {
          generate(c, ingest.port, spec, "steady")
        }
        // Wait for every accepted row: the endpoint has seen all of them
        // once its distinct-row count reaches the accepted total.
        val want = out._2.filter(_.status == 201).map(s => byIdx(s.idx).rows.toLong).sum +
          4L * rows
        def delivered = ep.records.values.map(r => r.synchronized(r.hashes.size.toLong)).sum
        val deadline = System.nanoTime() + 30000000000L
        while (delivered < want && System.nanoTime() < deadline) Thread.sleep(20)
        q.processAllAvailable()
        out
      } finally q.stop()
    } finally ingest.close()
    val genLateP90 = checkGenerator(sent)
    val windowStart = start + warmupS * 1000000000L
    val recs = bySuffix(ep.records)
    val timed = sent.filter(s => byIdx(s.idx).timed)
    val openBad = sent.flatMap(s =>
      checkDelivered(c.seed, byIdx(s.idx), s.status, recs).map(m => (byIdx(s.idx).timed, m)))
    problems ++= openBad.map(_._2)
    attempted += timed.size
    val deliverMs = timed.filter(s => s.status == 201 &&
        !openBad.exists(_._2.startsWith(byIdx(s.idx).urlPath + ":")))
      .map(s => ms(recs(s"/sharedKey=${Changefeed.goodKey}${byIdx(s.idx).urlPath}")._2.lastNewNs - s.dueNs))
    val openProgress = c.tracer.map { t =>
      t.settleEpochs()
      val p = t.progress.asScala.toSeq
      t.progress.clear()
      t.accs.remove("route"); t.accs.remove("publish")
      p
    }.getOrElse(Nil)

    // ---- catch-up
    val backlogDir = c.dir("backlog")
    val lander = new IngestServer("127.0.0.1:0", backlogDir, Set(Changefeed.goodKey))
    c.spark.conf.set("spark.graft.maxFilesPerTrigger", mft.toString)
    val landSpec = s"backlog $files $fileRows $topics 100000"
    val backlog = Gen.plan(c.seed, landSpec)
    val (_, landed) = try c.span("phase", "land", "workload:bridge") {
      generate(c, lander.port, landSpec, "land")
    } finally lander.close()
    checkGenerator(landed)
    problems ++= landed.filter(_.status != 201).map(s => s"backlog POST ${s.idx} got ${s.status}")
    val netRuns = mutable.ArrayBuffer[(Double, Seq[Long])]()
    val dirRuns = mutable.ArrayBuffer[Double]()
    var filesWritten = 0L
    ep.dupFrames.set(0); ep.frames.set(0)
    for (i <- 1 to drains) c.span("phase", s"drain-$i", "workload:bridge") {
      val (ns, nb, dl) = drainNet(c, backlogDir, fresh("ckpt"), ep, backlog)
      val (ds, db, fw) = drainDir(c, backlogDir, fresh("ckpt"), fresh("out"), backlog)
      problems ++= nb ++ db
      netRuns += ((ns, dl)); dirRuns += ds; filesWritten += fw
    }
    attempted += landed.size + 2 * drains * backlog.size
    val backlogRows = backlog.map(_.rows.toLong).sum.toDouble
    // Each sink's faster drain: interference from outside only slows one.
    val netRate = backlogRows / netRuns.map(_._1).min
    val dirRate = backlogRows / dirRuns.min

    val e2e = Map(
      "setup_s" -> sinceStart(windowStart),
      "ack_ms" -> Stats.percentile(landed.map(s => ms(s.ackNs - s.sendNs)), 50).getOrElse(Double.NaN),
      "deliver_ms" -> Stats.percentile(deliverMs, 50).getOrElse(Double.NaN),
      "tail_ms" -> Stats.percentile(deliverMs, 90).getOrElse(Double.NaN),
      // Geometric mean: halving either sink's rate lowers it by 29%.
      "throughput_per_s" -> math.sqrt(netRate * dirRate))
    val layers = c.tracer.map { t =>
      t.settleEpochs()
      val catchProgress = t.progress.asScala.toSeq
      val all = openProgress ++ catchProgress
      var processed = 0L
      val accepted = sent.filter(_.status == 201)
      val queued = openProgress.sortBy(_._1).map { case (at, p) =>
        processed += p.numInputRows
        (at, (accepted.filter(_.ackNs <= at).map(s => byIdx(s.idx).rows.toLong).sum +
          4L * rows - processed).toDouble)
      }
      val inWindow = queued.filter(_._1 >= windowStart)
      val openPost = timed.map(s => ms(s.ackNs - s.sendNs))
      val route = t.acc("route")
      val pub = t.acc("publish")
      epochLayers(openProgress.filter(_._1 >= windowStart)) ++ Map(
        "gen.late_ms_p90" -> genLateP90,
        "gen.posts" -> (sent.size + landed.size).toDouble,
        "ingest.post_ms_p50" -> p50(openPost),
        "ingest.post_ms_p90" -> Stats.percentile(openPost, 90).getOrElse(0.0),
        "ingest.conn_wait_ms_p90" -> Stats.percentile(
          timed.map(s => ms(math.max(0L, s.pickNs - s.dueNs))), 90).getOrElse(0.0),
        "ingest.posts" -> Seq(ingest, lander).map(s => s.landedCount + s.rejectedCount).sum.toDouble,
        "ingest.landed" -> (ingest.landedCount + lander.landedCount).toDouble,
        "ingest.rejected_401" -> (ingest.rejectedCount + lander.rejectedCount).toDouble,
        "source.backlog_rows_max" -> (if (queued.isEmpty) 0.0 else queued.map(_._2).max),
        "source.backlog_slope_rows_per_s" ->
          Stats.slope(inWindow.map { case (at, b) => ((at - windowStart) / 1e9, b) }),
        "route.rows_seen" -> observed(all, "auth_filter", "rows_seen"),
        "route.rejected_401" -> observed(all, "auth_filter", "rejected_401"),
        "route.unroutable_404" -> (observed(all, "route_publish_net", "unroutable_404") +
          observed(all, "route_publish", "unroutable_404")),
        "route.stage_ms" -> route.stageMs,
        "route.cpu_ms" -> route.cpuMs,
        "publish.add_batch_ms_p50" -> p50(catchProgress.map(
          _._2.durationMs.getOrDefault("addBatch", 0L).toDouble)),
        "publish.stage_ms" -> pub.stageMs,
        "publish.cpu_ms" -> pub.cpuMs,
        "publish.frames" -> ep.frames.get.toDouble,
        "publish.dup_frames" -> ep.dupFrames.get.toDouble,
        "publish.creates" -> ep.creates.get.toDouble,
        "publish.topics" -> ep.topicNames.size.toDouble,
        "publish.bytes_written" -> pub.outputBytes.toDouble,
        "publish.files_written" -> filesWritten.toDouble,
        "catchup.net_rows_per_s" -> netRate,
        "catchup.dir_rows_per_s" -> dirRate)
    }.getOrElse(Map.empty) ++ samples(landed.size, deliverMs.size)
    Outcome(attempted, problems.size, problems.toSeq, e2e, layers)
  }

  // ----------------------------------------------------------- analytics

  val groups: Seq[(String, Seq[String])] = Seq(
    "cdc" -> Seq("q_cdc_route", "q_cdc_envelope_parse", "q_cdc_latest_by_key"),
    "olap" -> Seq("q_join_multiway", "q_agg_group", "q_join_asof"),
    "dedup" -> Seq("q_dedup_fuzzy_edit", "q_dedup_pipeline", "q_dedup_cluster"))
  val groupOf: Map[String, String] = groups.flatMap { case (g, ks) => ks.map(_ -> g) }.toMap
  /** Nominal length of one timed pass: the number of passes follows from
    * `--seconds` alone, never from how fast the program runs. */
  val passSeconds = 10

  /** Expected `<key> <rows> <digest>` lines. */
  def readExpected(file: String): Map[String, (Long, String)] =
    Files.readAllLines(Paths.get(file)).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(k, n, d) = l.split("\\s+")
        k -> (n.toLong, d)
      }.toMap

  /** One timed key: `planMs` until its DataFrame was returned (analysis
    * plus any eager materialization the key does while building it),
    * `wallMs` until the last result row was digested. */
  final case class KeyRun(key: String, planMs: Double, wallMs: Double, digest: ResultDigest)

  /** Runs one key; only keys of the `timed` phase count in the tracer's
    * group totals. */
  def runKey(c: Ctx, key: String, dir: String, phase: String, span: String): KeyRun = {
    val bucket = if (phase == "timed") groupOf(key) else ""
    c.tracer.foreach { t => t.drain(); t.bucket = bucket }
    try c.span("query", span, s"phase:$phase") {
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(key)(c.spark, dir)
      val built = System.nanoTime()
      val d = Digest.ofFrame(df)
      val t1 = System.nanoTime()
      if (bucket.nonEmpty) c.tracer.foreach(_.recordQuery(bucket, df.queryExecution))
      KeyRun(key, ms(built - t0), ms(t1 - t0), d)
    } finally {
      c.spark.catalog.clearCache()
      c.tracer.foreach { t => t.drain(); t.bucket = "" }
      // Every key starts on a collected heap: the garbage and freed caches
      // of the key before neither slow it nor add to its resident peak.
      System.gc()
    }
  }

  def analytics(c: Ctx, fixture: String, warmFixture: String, expectedFile: String): Outcome = {
    val expected = readExpected(expectedFile)
    val keys = groups.flatMap(_._2)
    c.span("phase", "warm-up", "workload:analytics") {
      keys.foreach(k => runKey(c, k, warmFixture, "warm-up", s"warm/$k"))
    }
    val start = System.nanoTime()
    val runs = mutable.ArrayBuffer[KeyRun]()
    val passes = math.max(1, c.seconds / passSeconds)
    c.span("phase", "timed", "workload:analytics") {
      for (pass <- 1 to passes)
        keys.foreach(k => runs += runKey(c, k, fixture, "timed", s"$k#$pass"))
    }
    val problems = runs.flatMap { r =>
      expected.get(r.key) match {
        case Some((n, d)) if n == r.digest.rows && d == r.digest.hex => None
        case Some((n, d)) => Some(s"${r.key}: ${r.digest.rows} rows ${r.digest.hex}, expected $n $d")
        case None => Some(s"${r.key}: no expected digest (${r.digest.rows} ${r.digest.hex})")
      }
    }
    runs.groupBy(_.key).toSeq.sortBy(_._1).foreach { case (k, rs) =>
      System.err.println(s"[perfbench] digest $k ${rs.head.digest.rows} ${rs.head.digest.hex}")
    }
    // Per key the fastest pass (the first timed pass is still warming up,
    // and interference from outside only slows one); across keys the
    // geometric mean, so doubling every key of one 3-key group raises it
    // by 26%, however short those keys are next to the others.
    val perKey = runs.groupBy(_.key).map { case (k, rs) => k -> rs.map(_.wallMs).min }
    val perKeyPlan = runs.groupBy(_.key).map { case (_, rs) => rs.map(_.planMs).min }
    val totalMs = runs.map(_.wallMs).sum
    val e2e = Map(
      "setup_s" -> sinceStart(start),
      "ack_ms" -> Stats.geomean(perKeyPlan.toSeq),
      "deliver_ms" -> Stats.geomean(perKey.values.toSeq),
      "tail_ms" -> Stats.geomean(perKey.values.toSeq.sorted.reverse.take(keys.size / 2)),
      "throughput_per_s" -> runs.size / (totalMs / 1000.0))
    val layers = c.tracer.map { t =>
      val perGroup = groups.flatMap { case (g, ks) =>
        val a = t.acc(g)
        val wallMs = ks.map(perKey).sum
        Seq(
          s"$g.s" -> wallMs / 1000.0,
          s"$g.plan.ms" -> a.planMs / passes,
          s"$g.exec.jobs" -> a.jobs.toDouble / passes,
          s"$g.exec.stages" -> a.stages.toDouble / passes,
          s"$g.exec.tasks" -> a.tasks.toDouble / passes,
          s"$g.exec.run_ms" -> a.runMs / passes,
          s"$g.exec.cpu_ms" -> a.cpuMs / passes,
          s"$g.exec.gc_ms" -> a.gcMs / passes,
          s"$g.exec.cpu_util" -> a.cpuMs / passes / (wallMs * cpus),
          s"$g.exec.shuffle_read_bytes" -> a.shuffleRead.toDouble / passes,
          s"$g.exec.shuffle_write_bytes" -> a.shuffleWrite.toDouble / passes,
          s"$g.exec.spill_bytes" -> a.spill.toDouble / passes,
          s"$g.exec.task_skew_max" -> a.skewMax,
          s"$g.exec.join_rows_out" -> a.joinRows.toDouble / passes,
          s"$g.scan.input_bytes" -> a.inputBytes.toDouble / passes,
          s"$g.scan.input_rows" -> a.inputRows.toDouble / passes,
          s"$g.mat.jobs" -> a.matJobs.toDouble / passes,
          s"$g.mat.ms" -> a.matMs / passes,
          s"$g.mat.cached_bytes_peak" -> a.cachedPeak.toDouble)
      }
      perGroup.toMap ++ perKey.map { case (k, v) => s"q.$k.s" -> v / 1000.0 } +
        ("analytics.total_s" -> totalMs / passes / 1000.0)
    }.getOrElse(Map.empty) ++ samples(runs.size, runs.size)
    Outcome(runs.size, problems.size, problems.toSeq, e2e, layers)
  }

  /** How many samples `ack_ms` and `deliver_ms`/`tail_ms` rest on. */
  def samples(ack: Int, deliver: Int): Map[String, Double] = {
    System.err.println(s"[perfbench] samples: ack $ack, deliver $deliver")
    Map("samples.ack" -> ack.toDouble, "samples.deliver" -> deliver.toDouble)
  }

  // ---------------------------------------------------------------- main

  def json(m: Map[String, Double]): String = m.toSeq.sortBy(_._1).map { case (k, v) =>
    val s = if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
    s""""$k":$s"""
  }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, work, fixture, warmFixture, expected) = args
    val workDir = Paths.get(work).toAbsolutePath
    Files.createDirectories(workDir)
    val spark = session(workDir, workload == "analytics")
    spark.sparkContext.setLogLevel("ERROR")
    val runId = f"$workload-s$seed-${System.currentTimeMillis()}%x"
    val tracer = if (trace == "1") Some(new Tracer(spark, runId)) else None
    tracer.foreach(_.install())
    val c = Ctx(spark, seed.toLong, seconds.toInt, workDir, tracer)
    val exit = try {
      val out = c.span("workload", workload, "") {
        workload match {
          case "bridge" => bridge(c)
          case "analytics" => analytics(c, fixture, warmFixture, expected)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
      }
      val layers = tracer.fold(out.layers) { t =>
        t.remove()
        val n = t.writeSpans(workDir.resolve(s"spans-$workload.jsonl"))
        out.layers + ("trace.spans" -> n.toDouble)
      }
      out.problems.take(20).foreach(p => System.err.println(s"[perfbench] FAIL $p"))
      val e2e = out.e2e + ("peak_rss_mb" -> peakRssMb())
      println(s"""RESULT {"correct":${out.failed == 0 && out.problems.isEmpty},""" +
        s""""attempted":${out.attempted},"failed":${out.failed},""" +
        s""""e2e":${json(e2e)},"layers":${json(layers)}}""")
      0
    } catch {
      case e: GeneratorBehind =>
        System.err.println(s"[perfbench] run refused: ${e.getMessage}")
        3
    } finally spark.stop()
    System.out.flush()
    sys.exit(exit)
  }
}
