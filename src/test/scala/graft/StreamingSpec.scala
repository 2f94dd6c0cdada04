package graft

import graft.queries.FixtureLayout
import graft.streaming.{NetBroker, NetPublisher, Streams}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.collection.concurrent.TrieMap

/** Golden tests for the §2.4 streaming surface: file-source micro-batches
  * in, batch-computed goldens out (stream-batch equivalence), plus the
  * delivery-semantics and lifecycle contracts that have no oracle.
  * Each test name carries its SURVEY §2.4 key. */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  // ---------------------------------------------------------- fixtures

  private def tmp(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p.toString
  }

  private def write(root: String, rel: String, lines: Seq[String]): Unit = {
    val p = Paths.get(root, rel)
    Files.createDirectories(p.getParent)
    Files.writeString(p, lines.mkString("\n"))
  }

  private val payload = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_totalprice", DoubleType)))

  private def upd(k: Long): String = f"$k%023d.0000000001"

  private def envLine(k: Long): String =
    s"""{"after": {"o_orderkey": $k, "o_custkey": ${k % 10}, "o_totalprice": ${k * 10}.5}, "key": [$k], "updated": "${upd(k)}"}"""

  private def delLine(k: Long): String =
    s"""{"after": null, "key": [$k], "updated": "${upd(k)}"}"""

  private def ts33(n: Int): String = "0" * 30 + f"$n%03d"

  /** Canonical CDC drop: 2 good data files (one containing a delete), one
    * RESOLVED marker, one bad-key file, one unroutable name. */
  private def writeCdcDrop(in: String): Unit = {
    write(in, s"sharedKey=k1/ord_topic/2024-01-01/${ts33(1)}-u1-orders-1.ndjson",
      Seq(envLine(1), envLine(2), delLine(3)))
    write(in, s"sharedKey=k1/ord_topic/2024-01-01/${ts33(2)}-u2-orders-1.ndjson",
      Seq(envLine(4), envLine(5)))
    write(in, s"sharedKey=k1/ord_topic/2024-01-01/${ts33(3)}.RESOLVED",
      Seq(s"""{"resolved": "${upd(6)}"}"""))
    write(in, s"sharedKey=badkey/ord_topic/2024-01-01/${ts33(4)}-u3-orders-1.ndjson",
      Seq(envLine(7)))
    write(in, s"sharedKey=k1/junk.txt", Seq("""{"x": 1}"""))
  }

  /** The CDC drop in `in` streamed through ingest, parse, auth (k1) and
    * route: the input every routing sink test publishes. */
  private def routedCdc(in: String): DataFrame =
    Streams.route(
      Streams.authFilter(
        Streams.parseEnvelope(Streams.ingestLines(spark, in), payload),
        Set("k1")), "cdc-")
      .select("path", "topic", "tbl", "value", "updated", "op")

  /** Batch twin of ingest: identical transforms over read.text. */
  private def batchLines(dir: String): DataFrame =
    spark.read.format("text").option("recursiveFileLookup", "true").load(dir)
      .withColumn("path", input_file_name())

  private def evLine(id: Long, ts: String, uid: Long, typ: String, v: Double): String =
    s"""{"event_id": $id, "ts": "$ts", "user_id": $uid, "event_type": "$typ", "value": $v}"""

  private def eventStream(dir: String): DataFrame =
    spark.readStream.schema(Streams.eventSchema).json(dir)

  private def eventBatch(dir: String): DataFrame =
    spark.read.schema(Streams.eventSchema).json(dir)

  private def runToMemory(df: DataFrame, name: String, mode: String): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The CDC table's committed raw state (tombstones included), resolved
    * through its MANIFEST. */
  private def committedState(table: String): DataFrame =
    spark.read.parquet(FixtureLayout.manifestedFiles(table)._2
      .filter(_.endsWith(".parquet")): _*)

  /** The `v-*` version dirs under a manifested store, by name. */
  private def versionDirs(dest: String): Seq[String] =
    new java.io.File(dest).listFiles().toSeq.map(_.getName)
      .filter(_.startsWith("v-")).sorted

  // ------------------------------------------------------------ ingest

  test("s_ingest_ndjson: file-drop stream parses envelopes == batch golden") {
    val in = tmp("cdc-in"); writeCdcDrop(in)
    val parsed = Streams.parseEnvelope(Streams.ingestLines(spark, in), payload)
      .select("op", "updated", "after.o_orderkey")
    runToMemory(parsed, "t_ingest", "append")
    val got = sortedRows(spark.table("t_ingest"))
    val golden = sortedRows(
      Streams.parseEnvelope(batchLines(in), payload)
        .select("op", "updated", "after.o_orderkey"))
    assert(got == golden && got.size == 8) // 6 data + 1 resolved + 1 junk
    assert(spark.table("t_ingest").filter(col("op") === "delete").count() == 1)
  }

  test("s_auth_filter: rows from bad-sharedKey deliveries are dropped AND counted") {
    val in = tmp("cdc-auth"); writeCdcDrop(in)
    val authed = Streams.authFilter(
      Streams.parseEnvelope(Streams.ingestLines(spark, in), payload),
      Set("k1", "k2rotation"))
    val q = authed.select("op", "updated").writeStream.format("memory")
      .queryName("t_auth").outputMode("append").start()
    q.processAllAvailable()
    // rejection metrics (the 401 count, publisher.go:146-149): exposed per
    // micro-batch via observedMetrics, summed across the run here
    val (rejected, seen) = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("auth_filter")))
      .map(r => (r.getAs[Long]("rejected_401"), r.getAs[Long]("rows_seen")))
      .foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
    q.stop()
    assert(spark.table("t_auth").count() == 7) // 8 minus the badkey file's 1
    assert(rejected == 1 && seen == 8,
      s"expected 1 rejection of 8 seen, got $rejected of $seen")
    val golden = Streams.authFilter(
      Streams.parseEnvelope(batchLines(in), payload), Set("k1", "k2rotation"))
    assert(sortedRows(spark.table("t_auth")) ==
      sortedRows(golden.select("op", "updated")))
  }

  // ------------------------------------------------------------- route

  test("s_route_publish: per-topic partitioned sink, topic created once") {
    val in = tmp("cdc-route"); val out = tmp("cdc-out")
    writeCdcDrop(in)
    val routed = routedCdc(in)
    val q = Streams.routePublish(routed, out, tmp("cdc-ckpt"))
    q.processAllAvailable()
    // second delivery: the same topic's partition takes the new row
    write(in, s"sharedKey=k1/ord_topic/2024-01-02/${ts33(9)}-u9-orders-1.ndjson",
      Seq(envLine(8)))
    q.processAllAvailable()
    val unroutable = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("route_publish")))
      .map(_.getAs[Long]("unroutable_404")).sum
    q.stop()
    assert(spark.read.parquet(s"$out/data/topic=cdc-ord_topic").count() == 7,
      "both epochs' routed rows belong in the one topic partition")
    val published = spark.read.parquet(s"$out/data")
    val routable = published.filter(col("topic") =!= "__dead_letter")
    assert(routable.filter(col("topic") === "cdc-ord_topic").count() == 7)
    assert(routable.filter(col("tbl") === "RESOLVED").count() == 1)
    assert(routable.filter(col("tbl") === "404").count() == 0)
    // Pub/Sub-style attributes ride with every message (publisher.go:88-91)
    assert(routable.filter(element_at(col("attributes"), "table") === col("tbl"))
      .count() == 7)
    assert(routable.filter(element_at(col("attributes"), "path").contains("sharedKey=k1"))
      .count() == 7)
    // the unroutable junk file neither vanishes nor publishes: dead-letter
    // topic with a reason, as on the wire
    assert(unroutable == 1, s"expected 1 observed 404, got $unroutable")
    val dead = published.filter(col("topic") === "__dead_letter")
    assert(dead.count() == 1)
    assert(dead
      .filter(element_at(col("attributes"), "dl_reason") === "unroutable_path")
      .filter(element_at(col("attributes"), "path").contains("junk.txt"))
      .count() == 1)
  }

  test("s_ingest_ndjson: maxFilesPerTrigger bounds micro-batches, same rows") {
    // R15 knob (round-13): a bounded trigger must change ONLY the epoch
    // granularity — same delivered rows as one unbounded catch-up batch.
    val in = tmp("cdc-mft"); writeCdcDrop(in) // 5 files
    spark.conf.set("spark.graft.maxFilesPerTrigger", "1")
    try {
      val parsed = Streams.parseEnvelope(Streams.ingestLines(spark, in), payload)
        .select("op", "updated", "after.o_orderkey")
      val q = parsed.writeStream.format("memory").queryName("t_mft")
        .outputMode("append").start()
      q.processAllAvailable()
      val batches = q.lastProgress.batchId + 1
      q.stop()
      assert(batches >= 5, s"expected >=5 one-file micro-batches, got $batches")
      val golden = sortedRows(
        Streams.parseEnvelope(batchLines(in), payload)
          .select("op", "updated", "after.o_orderkey"))
      assert(sortedRows(spark.table("t_mft")) == golden)
      // round-13 ADVICE: negative must be rejected by the SHARED parse
      // (GraftConfig.maxFilesPerTrigger) — not silently mean unbounded —
      // identically on the source's direct read and the full-config path.
      spark.conf.set("spark.graft.maxFilesPerTrigger", "-1")
      val eSrc = intercept[IllegalArgumentException] {
        Streams.ingestLines(spark, in)
      }
      assert(eSrc.getMessage.contains("maxFilesPerTrigger"))
      val eCfg = intercept[IllegalArgumentException] {
        graft.GraftConfig.from(spark)
      }
      assert(eCfg.getMessage.contains("maxFilesPerTrigger"))
    } finally spark.conf.unset("spark.graft.maxFilesPerTrigger")
  }

  /** The s_route_publish_net delivery contract, parameterized over the
    * transport (round 11, verdict #6): acks, attrs, create-once, and
    * dead-letter semantics must hold for ANY PublishTransport — the
    * NetBroker leg runs here; a real Pub/Sub client leg would reuse
    * this same helper, which is exactly why the seam exists. */
  private def publishContract(tag: String,
      start: (org.apache.spark.sql.DataFrame, NetBroker, String) =>
        org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val in = tmp(s"cdc-net-$tag"); writeCdcDrop(in)
    val broker = new NetBroker()
    NetPublisher.reset()
    try {
      val routed = routedCdc(in)
      val q = start(routed, broker, tmp(s"cdc-net-$tag-ckpt"))
      q.processAllAvailable()
      // second delivery: same topic must NOT be created again
      write(in, s"sharedKey=k1/ord_topic/2024-01-02/${ts33(9)}-u9-orders-1.ndjson",
        Seq(envLine(8)))
      q.processAllAvailable()
      val unroutable = q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get("route_publish_net")))
        .map(_.getAs[Long]("unroutable_404")).sum
      q.stop()
      assert(broker.createCount("cdc-ord_topic") == 1,
        "topic created more than once across batches/partitions")
      val msgs = broker.messages("cdc-ord_topic")
      assert(msgs.size == 7)
      // Pub/Sub-style attributes ride with every message (publisher.go:88-91)
      assert(msgs.count(_.attrs.get("table").contains("orders")) == 6)
      assert(msgs.count(_.attrs.get("table").contains("RESOLVED")) == 1)
      assert(msgs.forall(_.attrs.get("path").exists(_.contains("sharedKey=k1"))))
      // payload bytes travel verbatim (the reference never parses them)
      assert(msgs.exists(_.data == envLine(8)))
      // the unroutable junk file neither vanishes nor publishes blind:
      // dead-letter TOPIC with a reason (the bridge's HTTP 404)
      assert(unroutable == 1, s"expected 1 observed 404, got $unroutable")
      val dead = broker.messages("__dead_letter")
      assert(dead.size == 1)
      assert(dead.head.attrs.get("dl_reason").contains("unroutable_path"))
      assert(dead.head.attrs.get("path").exists(_.contains("junk.txt")))
    } finally broker.close()
  }

  test("s_route_publish_net: TCP publish — acks, attrs, create-once, dead-letter topic") {
    // config-driven leg: the string-addr overload builds its transport
    // from the session (the spark.graft.credentials consumption path)
    publishContract("addr",
      (routed, broker, ckpt) =>
        Streams.routePublishNet(routed, broker.addr, ckpt))
  }

  test("s_route_publish_net: identical contract through an explicit PublishTransport") {
    publishContract("seam",
      (routed, broker, ckpt) =>
        Streams.routePublishNet(routed,
          graft.streaming.NetTransport(broker.addr), ckpt))
  }

  /** Route, dead letter and lazy topic create ride in an epoch's one
    * publish job, on either sink: no persist, emptiness probe or
    * distinct-topic collect. `start` runs the sink over the 5-file drop
    * one file per epoch; `deadLetters` reads back how many unroutable
    * rows it published. */
  private def oneJobPerEpoch(tag: String)(
      start: (DataFrame, String) => org.apache.spark.sql.streaming.StreamingQuery)(
      deadLetters: => Long): Unit = {
    val in = tmp(s"cdc-jobs-$tag"); writeCdcDrop(in) // 5 files, junk included
    val jobQueries = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobQueries.add(String.valueOf(
          Option(e.properties).map(_.getProperty("sql.streaming.queryId"))
            .orNull))
    }
    spark.conf.set("spark.graft.maxFilesPerTrigger", "1")
    spark.sparkContext.addSparkListener(listener)
    try {
      val q = start(routedCdc(in), tmp(s"cdc-jobs-$tag-ckpt"))
      q.processAllAvailable()
      val epochs = q.recentProgress.count(_.numInputRows > 0)
      q.stop()
      org.apache.spark.PlanCaptureBus.drain(spark.sparkContext)
      val jobs = jobQueries.toArray.count(_ == q.id.toString)
      assert(epochs == 5, s"expected 5 one-file epochs, got $epochs")
      assert(jobs == epochs, s"$jobs Spark jobs for $epochs epochs with input")
      assert(deadLetters == 1)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.unset("spark.graft.maxFilesPerTrigger")
    }
  }

  test("s_route_publish_net: one Spark job per epoch with input") {
    val broker = new NetBroker()
    NetPublisher.reset()
    try oneJobPerEpoch("net")((routed, ckpt) =>
      Streams.routePublishNet(routed,
        graft.streaming.NetTransport(broker.addr), ckpt)) {
      assert(broker.messages("cdc-ord_topic").size == 6)
      broker.messages("__dead_letter").size.toLong
    } finally broker.close()
  }

  test("s_route_publish: one Spark job per epoch with input") {
    val out = tmp("cdc-dir-jobs-out")
    oneJobPerEpoch("dir")((routed, ckpt) =>
      Streams.routePublish(routed, out, ckpt)) {
      val published = spark.read.parquet(s"$out/data")
      assert(published.filter(col("topic") === "cdc-ord_topic").count() == 6)
      published.filter(col("topic") === "__dead_letter").count()
    }
  }

  test("s_route_publish_net: the dead-letter topic is created only for an unroutable row") {
    val in = tmp("cdc-net-nojunk"); writeCdcDrop(in)
    Files.delete(Paths.get(in, "sharedKey=k1/junk.txt"))
    val broker = new NetBroker()
    NetPublisher.reset()
    try {
      val routed = routedCdc(in)
      val q = Streams.routePublishNet(routed,
        graft.streaming.NetTransport(broker.addr), tmp("cdc-net-nojunk-ckpt"))
      q.processAllAvailable()
      q.stop()
      assert(broker.messages("cdc-ord_topic").size == 6)
      assert(broker.topicNames == Set("cdc-ord_topic"),
        s"topics created: ${broker.topicNames}")
    } finally broker.close()
  }

  test("NetTransport: credentials load fail-fast at construction (R15 end-to-end)") {
    val broker = new NetBroker()
    try {
      // missing file: the constructor throws before any frame is sent
      val bad = intercept[IllegalArgumentException] {
        graft.streaming.NetTransport(broker.addr,
          Some("/definitely/missing/creds.json"))
      }
      assert(bad.getMessage.contains("creds.json"))
      // empty file: equally unusable, equally fatal
      val empty = java.io.File.createTempFile("creds-empty", ".json")
      empty.deleteOnExit()
      intercept[IllegalArgumentException] {
        graft.streaming.NetTransport(broker.addr,
          Some(empty.getAbsolutePath))
      }
      // usable file: loaded (fingerprint = md5 of the bytes) and the
      // transport publishes normally
      val good = java.io.File.createTempFile("creds", ".json")
      good.deleteOnExit()
      java.nio.file.Files.write(good.toPath,
        """{"type":"service_account","id":"fixture"}""".getBytes("UTF-8"))
      val t = graft.streaming.NetTransport(broker.addr,
        Some(good.getAbsolutePath))
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(java.nio.file.Files.readAllBytes(good.toPath))
        .map(b => f"$b%02x").mkString
      assert(t.credentialsFingerprint.contains(md5))
      NetPublisher.reset()
      t.ensureTopic("t_cred")
      t.publishPartition(
        Iterator(("t_cred", "hello", Map.empty[String, String])))
      assert(broker.messages("t_cred").map(_.data) == Seq("hello"))
    } finally broker.close()
  }

  test("s_route_publish_net consumes spark.graft.credentials from the session") {
    // the config-driven overload must construct its transport through
    // GraftConfig — an unusable credentials path aborts pipeline START
    // (before any query exists), not micro-batch N
    val in = tmp("cdc-net-cred"); writeCdcDrop(in)
    val broker = new NetBroker()
    try {
      spark.conf.set("spark.graft.credentials", "/missing/sink-creds.json")
      val routed = routedCdc(in)
      val e = intercept[IllegalArgumentException] {
        Streams.routePublishNet(routed, broker.addr, tmp("cdc-cred-ckpt"))
      }
      assert(e.getMessage.contains("sink-creds.json"))
    } finally {
      spark.conf.unset("spark.graft.credentials")
      broker.close()
    }
  }

  test("s_affinity_update: streamed epochs merge to the batch pair counts; replay is a no-op") {
    val in = tmp("aff-in"); val store = tmp("aff-store")
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType)))
    def line(ok: Long, pk: Long) = s"""{"l_orderkey":$ok,"l_partkey":$pk}"""
    // epoch 1: orders 1 (100,200) and 2 (100,200,300)
    write(in, "drop1.ndjson", Seq(
      line(1, 100), line(1, 200),
      line(2, 100), line(2, 200), line(2, 300)))
    val q = Streams.affinityUpdate(
      spark.readStream.schema(schema).json(in), store, tmp("aff-ckpt"))
    try {
      q.processAllAvailable()
      // epoch 2: order 3 (100,200) closes a cross-epoch co=3; order 4
      // (300,400) only ever co-occurs once => floored out
      write(in, "drop2.ndjson", Seq(
        line(3, 100), line(3, 200),
        line(4, 300), line(4, 400)))
      q.processAllAvailable()
    } finally q.stop()
    val served = Streams.readAffinityIndex(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // golden: the merged view == the batch pair computation over ALL
    // delivered rows (pre-floor partials are algebraic over orders)
    assert(served == Map((100L, 200L) -> 3L),
      s"served index drifted: $served")
    // replay: re-committing an existing epoch hits the manifest's
    // already-committed check — the store and the served view are
    // byte-for-byte unchanged (counts can never double)
    graft.queries.FixtureLayout.ensureManifested(s"$store/epoch=0") { st =>
      fail(s"replayed epoch 0 re-ran its write into $st")
    }
    val again = Streams.readAffinityIndex(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(again == served)
    // torn epoch: data files landed but the writer died before its
    // MANIFEST swap — the reader must not see a single row of it
    val torn = java.nio.file.Paths.get(store, "epoch=99", "v-dead")
    java.nio.file.Files.createDirectories(torn)
    spark.range(1).selectExpr("100L AS p1", "200L AS p2", "50L AS co")
      .write.parquet(torn.resolve("data").toString)
    val afterTorn = Streams.readAffinityIndex(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(afterTorn == served,
      "reader leaked rows from an uncommitted (torn) epoch")
  }

  test("s_affinity_update: basketCap applies per epoch == capped batch; cap tag rejects mixing") {
    // round-12 (r11 verdict #2): a capped session's streamed index must
    // be bit-identical to the capped batch pair definition — the same
    // GraphOps.baskets cut the batch and incremental paths apply
    val in = tmp("affcap-in"); val store = tmp("affcap-store")
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType)))
    def line(ok: Long, pk: Long) = s"""{"l_orderkey":$ok,"l_partkey":$pk}"""
    // orders 1 and 2 have parts (100,200,300): uncapped co(100,200)=
    // co(100,300)=co(200,300)=2; cap=2 keeps only (100,200) per order
    val rows = Seq(
      line(1, 100), line(1, 200), line(1, 300),
      line(2, 100), line(2, 200), line(2, 300))
    write(in, "drop1.ndjson", rows.take(3))
    spark.conf.set("spark.graft.basketCap", "2")
    try {
      val q = Streams.affinityUpdate(
        spark.readStream.schema(schema).json(in), store, tmp("affcap-ckpt"))
      try {
        q.processAllAvailable()
        write(in, "drop2.ndjson", rows.drop(3))
        q.processAllAvailable()
      } finally q.stop()
      val served = Streams.readAffinityIndex(spark, store).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      // capped batch recompute over all delivered rows: only (100,200)
      // survives the cap (300 is each order's 3rd part) and the floor
      assert(served == Map((100L, 200L) -> 2L),
        s"capped streamed index != capped batch recompute: $served")
      // a session running a DIFFERENT cap must be refused on both paths
      spark.conf.set("spark.graft.basketCap", "0")
      val e = intercept[IllegalArgumentException] {
        Streams.readAffinityIndex(spark, store)
      }
      assert(e.getMessage.contains("basketCap=2"))
      intercept[IllegalArgumentException] {
        Streams.affinityUpdate(
          spark.readStream.schema(schema).json(in), store,
          tmp("affcap-ckpt2"))
      }
    } finally spark.conf.unset("spark.graft.basketCap")
  }

  test("s_affinity_update: compaction folds epochs into base; replay stays no-op; vacuum reclaims") {
    val in = tmp("affcpt-in"); val store = tmp("affcpt-store")
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType)))
    def line(ok: Long, pk: Long) = s"""{"l_orderkey":$ok,"l_partkey":$pk}"""
    val ckpt = tmp("affcpt-ckpt")
    write(in, "d1.ndjson", Seq(line(1, 100), line(1, 200)))
    val q = Streams.affinityUpdate(
      spark.readStream.schema(schema).json(in), store, ckpt)
    try {
      q.processAllAvailable()
      write(in, "d2.ndjson", Seq(line(2, 100), line(2, 200)))
      q.processAllAvailable()
      write(in, "d3.ndjson", Seq(line(3, 100), line(3, 200), line(3, 300)))
      q.processAllAvailable()
    } finally q.stop()
    val before = Streams.readAffinityIndex(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(before == Map((100L, 200L) -> 3L), s"pre-compaction view: $before")
    val epochDirs = new java.io.File(store).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("epoch=")).length
    assert(epochDirs >= 2, s"need >= 2 epochs to make folding meaningful")
    // fold: served view must be BIT-identical, reads now resolve base only
    assert(Streams.compactAffinityStore(spark, store) == epochDirs)
    val after = Streams.readAffinityIndex(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(after == before, "compaction changed the served view")
    // compacting again with nothing new is a no-op
    assert(Streams.compactAffinityStore(spark, store) == 0)
    // replay of a folded epoch still hits the already-committed check
    graft.queries.FixtureLayout.ensureManifested(s"$store/epoch=0") { st =>
      fail(s"replayed folded epoch 0 re-ran its write into $st")
    }
    // a NEW epoch after compaction merges on top of the folded base —
    // the maintainer restarts from the SAME checkpoint, so only the new
    // file is delivered (a fresh checkpoint would re-deliver d1-d3
    // under already-committed epoch ids and drop d4 with them)
    val q2 = Streams.affinityUpdate(
      spark.readStream.schema(schema).json(in), store, ckpt)
    try {
      write(in, "d4.ndjson", Seq(line(4, 100), line(4, 200)))
      q2.processAllAvailable()
    } finally q2.stop()
    val grown = Streams.readAffinityIndex(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(grown == Map((100L, 200L) -> 4L),
      s"post-compaction epoch failed to merge onto the base: $grown")
    // vacuum reclaims the folded epochs' bytes, keeps their MANIFESTs
    // (so replays stay no-ops), and the served view is untouched
    val reclaimed = Streams.vacuumAffinityStore(store)
    assert(reclaimed.nonEmpty, "vacuum reclaimed nothing")
    graft.queries.FixtureLayout.ensureManifested(s"$store/epoch=0") { st =>
      fail(s"replayed vacuumed epoch 0 re-ran its write into $st")
    }
    val afterVac = Streams.readAffinityIndex(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(afterVac == grown, "vacuum changed the served view")
  }

  test("s_affinity_update: vacuum tombstone lands BEFORE the deletes — a crashed vacuum stays classified") {
    // Round-15 advice: the tombstone used to be written AFTER the v-*
    // deletes, so a vacuum crash in between left the epoch permanently
    // misclassified as generic corruption (and a re-vacuum could never
    // repair it — vdirs was empty by then). Now the tombstone is
    // written first. Three pins:
    //  (1) a tombstone with the data still INTACT is harmless — the
    //      crash window where the write landed but no delete ran;
    //  (2) after the interrupted vacuum resumes, the pinned-read error
    //      still names the vacuum;
    //  (3) a re-vacuum merges rather than erases an earlier tombstone.
    val in = tmp("affts-in"); val store = tmp("affts-store")
    val ckpt = tmp("affts-ckpt")
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType)))
    def line(ok: Long, pk: Long) = s"""{"l_orderkey":$ok,"l_partkey":$pk}"""
    def served() = Streams.readAffinityIndex(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    write(in, "d1.ndjson", Seq(line(1, 100), line(1, 200)))
    val q = Streams.affinityUpdate(
      spark.readStream.schema(schema).json(in), store, ckpt)
    try {
      q.processAllAvailable()
      write(in, "d2.ndjson", Seq(line(2, 100), line(2, 200)))
      q.processAllAvailable()
    } finally q.stop()
    assert(Streams.compactAffinityStore(spark, store) == 2)
    // a third epoch + second fold, so base version 1 has a vacuumable
    // horizon (epoch=2 is unfolded FROM v1's perspective)
    val q2 = Streams.affinityUpdate(
      spark.readStream.schema(schema).json(in), store, ckpt)
    try {
      write(in, "d3.ndjson", Seq(line(3, 100), line(3, 200)))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(Streams.compactAffinityStore(spark, store) == 1)
    val expected = Map((100L, 200L) -> 3L)
    // (1) simulate the crash window: tombstone present, data intact
    val e0 = new java.io.File(store, "epoch=0")
    val vNames = e0.listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("v-"))
      .map(_.getName).sorted
    assert(vNames.nonEmpty)
    java.nio.file.Files.writeString(
      new java.io.File(e0, "VACUUMED").toPath,
      vNames.mkString("", "\n", "\n"))
    assert(served() == expected,
      "a pre-delete tombstone must not affect reads while data is intact")
    // the epoch's own manifested files still resolve (integrity path
    // untouched — the tombstone is consulted only after a failure)
    assert(graft.queries.FixtureLayout
      .manifestedFiles(e0.getAbsolutePath)._2.nonEmpty)
    // (2) the interrupted vacuum resumes: deletes run, tombstone merged
    val reclaimed = Streams.vacuumAffinityStore(store)
    assert(reclaimed.exists(_.startsWith("epoch=0/")),
      s"resume vacuum must reclaim epoch 0's data: $reclaimed")
    val after = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(e0, "VACUUMED").toPath), "UTF-8")
      .linesIterator.filter(_.nonEmpty).toSeq
    assert(after == vNames.toSeq,
      s"re-vacuum must merge, not erase, the tombstone: $after vs ${vNames.toSeq}")
    assert(served() == expected, "vacuum changed the served view")
    // (3) pinned read past the horizon names the vacuum, not corruption:
    // v1's epochs.txt lists epochs 0-1 only, so pin(1) resolves epoch=2
    // as unfolded — whose data the vacuum just reclaimed
    val e = intercept[IllegalStateException] {
      Streams.readAffinityIndexAt(spark, store, 1).collect()
    }
    assert(e.getMessage.contains("vacuum"))
  }

  test("s_affinity_update: empty-store read is typed-empty; legacy dir still fails; time travel pins a fold version") {
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType)))
    def line(ok: Long, pk: Long) = s"""{"l_orderkey":$ok,"l_partkey":$pk}"""
    // (1) round-13 verdict #6: a monitor polling BEFORE the maintainer's
    // first epoch commits must get an empty, correctly-typed frame — a
    // nonexistent store dir is "not yet written", not "legacy".
    val unwritten = tmp("afftt-unwritten") + "/never-created"
    val empty = Streams.readAffinityIndex(spark, unwritten)
    assert(empty.schema.fieldNames.toSeq == Seq("p1", "p2", "co"))
    assert(empty.schema.fields.forall(_.dataType == LongType),
      s"empty-store schema drifted: ${empty.schema}")
    assert(empty.count() == 0)
    // (2) a dir that EXISTS with bytes but no _CAP tag is still the hard
    // legacy error — returning empty here would hide real data.
    val legacy = tmp("afftt-legacy")
    write(legacy, "stale.bin", Seq("pre-cap-protocol bytes"))
    val eLegacy = intercept[IllegalArgumentException] {
      Streams.readAffinityIndex(spark, legacy)
    }
    assert(eLegacy.getMessage.contains("_CAP"))
    // (3) round-13 verdict #7: time-travel parity with the export side.
    val in = tmp("afftt-in"); val store = tmp("afftt-store")
    val ckpt = tmp("afftt-ckpt")
    def served(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    write(in, "d1.ndjson", Seq(line(1, 100), line(1, 200)))
    val q = Streams.affinityUpdate(
      spark.readStream.schema(schema).json(in), store, ckpt)
    try {
      q.processAllAvailable()
      write(in, "d2.ndjson", Seq(line(2, 100), line(2, 200)))
      q.processAllAvailable()
    } finally q.stop()
    assert(Streams.listAffinityVersions(store).isEmpty,
      "never-compacted store should expose no fold versions")
    assert(Streams.compactAffinityStore(spark, store) == 2)
    val versions = Streams.listAffinityVersions(store)
    assert(versions.map(_._1) == Seq(1),
      s"one fold should publish base version 1: $versions")
    // pin version 1, then let an epoch land and a second fold run
    // underneath the pin — the dashboard's view must stay resolvable
    // and value-identical throughout (fold preserves sums by design).
    val pinnedBefore = served(Streams.readAffinityIndexAt(spark, store, 1))
    assert(pinnedBefore == Map((100L, 200L) -> 2L), s"$pinnedBefore")
    val q2 = Streams.affinityUpdate(
      spark.readStream.schema(schema).json(in), store, ckpt)
    try {
      write(in, "d3.ndjson", Seq(line(3, 100), line(3, 200)))
      q2.processAllAvailable()
    } finally q2.stop()
    // mid-fold pin: version 1's base + the not-yet-folded epoch
    val pinnedMid = served(Streams.readAffinityIndexAt(spark, store, 1))
    assert(pinnedMid == Map((100L, 200L) -> 3L), s"$pinnedMid")
    assert(Streams.compactAffinityStore(spark, store) == 1)
    assert(Streams.listAffinityVersions(store).map(_._1) == Seq(1, 2))
    // post-fold: the pin still resolves version 1's manifest history
    // (epoch=2 is folded into v2 but its files are not yet vacuumed)
    val pinnedAfter = served(Streams.readAffinityIndexAt(spark, store, 1))
    assert(pinnedAfter == pinnedMid,
      "pinned version drifted across a compaction underneath it")
    assert(served(Streams.readAffinityIndexAt(spark, store, 2))
      == served(Streams.readAffinityIndex(spark, store)))
    // (4) vacuum horizon: expiring version 1's base dir makes the pinned
    // read fail LOUDLY naming the vacuum — never partial sums.
    Streams.vacuumAffinityStore(store)
    graft.queries.FixtureLayout.vacuumExport(s"$store/base")
    val eVac = intercept[IllegalStateException] {
      Streams.readAffinityIndexAt(spark, store, 1).collect()
    }
    assert(eVac.getMessage.contains("vacuum"),
      s"expired pin should name the vacuum: ${eVac.getMessage}")
    // the live view survives every maintenance op
    assert(served(Streams.readAffinityIndex(spark, store))
      == Map((100L, 200L) -> 3L))
  }

  test("s_affinity_update: pinned read races a concurrent fold, then " +
      "vacuum — exact sums or a loud vacuum error, never torn") {
    // Round-14 verdict #6: the one adversarial leg the export store
    // already had. Three interleavings, each pinned:
    //  (1) fresh pins RACING a concurrent compaction — the atomic
    //      MANIFEST swap must keep every interleaving readable and
    //      value-identical (nothing is deleted by a fold);
    //  (2) a LAZY frame resolved pre-vacuum whose files are then
    //      reclaimed — must fail loudly, never serve partial sums
    //      (this is the documented "no long-lived reader during
    //      vacuum" caveat: loud, though not vacuum-named);
    //  (3) a FRESH pin after vacuumAffinityStore but before the base
    //      horizon expires — the pinned version's then-unfolded epoch
    //      data is gone, and the error must NAME the vacuum, not
    //      masquerade as corruption.
    val in = tmp("affrace-in"); val store = tmp("affrace-store")
    val ckpt = tmp("affrace-ckpt")
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType)))
    def line(ok: Long, pk: Long) = s"""{"l_orderkey":$ok,"l_partkey":$pk}"""
    def served(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    write(in, "d1.ndjson", Seq(line(1, 100), line(1, 200)))
    val q = Streams.affinityUpdate(
      spark.readStream.schema(schema).json(in), store, ckpt)
    try {
      q.processAllAvailable()
      write(in, "d2.ndjson", Seq(line(2, 100), line(2, 200)))
      q.processAllAvailable()
    } finally q.stop()
    assert(Streams.compactAffinityStore(spark, store) == 2)
    val q2 = Streams.affinityUpdate(
      spark.readStream.schema(schema).json(in), store, ckpt)
    try {
      write(in, "d3.ndjson", Seq(line(3, 100), line(3, 200)))
      q2.processAllAvailable()
    } finally q2.stop()
    val expected = Map((100L, 200L) -> 3L)
    // (1) concurrent fold: fresh pins of version 1 while the fold commits
    val fold = java.util.concurrent.CompletableFuture.supplyAsync(
      () => Streams.compactAffinityStore(spark, store))
    var racedReads = 0
    while (!fold.isDone) {
      val m = served(Streams.readAffinityIndexAt(spark, store, 1))
      assert(m == expected, s"torn pinned read during fold: $m")
      racedReads += 1
    }
    assert(fold.get() == 1, "racing fold should fold exactly epoch 3")
    // at least one read strictly after the fold's commit
    assert(served(Streams.readAffinityIndexAt(spark, store, 1)) == expected)
    info(s"pinned reads completed during the racing fold: $racedReads")
    // (2) lazy frame resolved pre-vacuum, collected post-vacuum
    val stale = Streams.readAffinityIndexAt(spark, store, 1)
    assert(Streams.vacuumAffinityStore(store).nonEmpty)
    val eStale = intercept[Exception] { served(stale) }
    assert(eStale != null) // loud failure; partial sums are impossible
    // (3) fresh pin past the epoch-vacuum horizon names the vacuum
    val eEpoch = intercept[IllegalStateException] {
      Streams.readAffinityIndexAt(spark, store, 1).collect()
    }
    assert(eEpoch.getMessage.contains("vacuum"),
      s"epoch-vacuumed pin should name the vacuum: ${eEpoch.getMessage}")
    // base horizon: after expiring version 1's base dir the pin is still
    // the vacuum-named error (export-side contract, unchanged)
    graft.queries.FixtureLayout.vacuumExport(s"$store/base")
    val eBase = intercept[IllegalStateException] {
      Streams.readAffinityIndexAt(spark, store, 1).collect()
    }
    assert(eBase.getMessage.contains("vacuum"))
    // the live view survives the whole gauntlet
    assert(served(Streams.readAffinityIndex(spark, store)) == expected)
  }

  test("s_affinity_update: affinityCompactEvery folds automatically mid-stream; replay + serve unchanged") {
    // round-12 verdict #6: the maintenance policy knob — compaction
    // observed INSIDE the running maintainer, no manual call
    val in = tmp("affauto-in"); val store = tmp("affauto-store")
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType)))
    def line(ok: Long, pk: Long) = s"""{"l_orderkey":$ok,"l_partkey":$pk}"""
    spark.conf.set("spark.graft.affinityCompactEvery", "2")
    try {
      write(in, "d1.ndjson", Seq(line(1, 100), line(1, 200)))
      val q = Streams.affinityUpdate(
        spark.readStream.schema(schema).json(in), store, tmp("affauto-ckpt"))
      try {
        q.processAllAvailable() // epoch 0: no fold (0 % 2 != 1)
        val baseAfter0 =
          new java.io.File(s"$store/base", "MANIFEST").isFile
        assert(!baseAfter0, "compaction ran before the policy's Nth epoch")
        write(in, "d2.ndjson", Seq(line(2, 100), line(2, 200)))
        q.processAllAvailable() // epoch 1: policy folds epochs 0+1
        assert(new java.io.File(s"$store/base", "MANIFEST").isFile,
          "affinityCompactEvery=2 did not fold at epoch 1")
        val (vroot, _) = graft.queries.FixtureLayout
          .manifestedFiles(s"$store/base")
        val foldedList = new String(java.nio.file.Files.readAllBytes(
          new java.io.File(vroot, "epochs.txt").toPath), "UTF-8")
        assert(foldedList.contains("epoch=0") && foldedList.contains("epoch=1"),
          s"folded-epoch list incomplete mid-stream: $foldedList")
        // stream keeps running on top of the folded base
        write(in, "d3.ndjson", Seq(line(3, 100), line(3, 200)))
        q.processAllAvailable() // epoch 2: unfolded, merges over base
      } finally q.stop()
      // replay of a folded epoch is still a no-op (MANIFEST kept)
      graft.queries.FixtureLayout.ensureManifested(s"$store/epoch=0") { st =>
        fail(s"replayed auto-folded epoch 0 re-ran its write into $st")
      }
      // served view == batch recompute over all delivered orders
      val served = Streams.readAffinityIndex(spark, store).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(served == Map((100L, 200L) -> 3L),
        s"auto-compacted view drifted from the batch recompute: $served")
    } finally spark.conf.unset("spark.graft.affinityCompactEvery")
  }

  test("s_route_publish_net: broker NAK throws — no silent ack (§8-B2)") {
    val broker = new NetBroker()
    try {
      intercept[java.io.IOException] {
        // publish to a topic that was never CREATEd => NAK => exception
        // => the Spark task would fail => batch replay (at-least-once)
        NetPublisher.publishPartition(broker.addr,
          Iterator(("never_created", "x", Map.empty[String, String])))
      }
    } finally broker.close()
  }

  test("s_route_publish_net: publish NAK evicts the create-once cache — broker restart recovers") {
    val b1 = new NetBroker()
    val port = b1.port
    NetPublisher.reset()
    NetPublisher.ensureTopic(b1.addr, "t_restart")
    NetPublisher.publishPartition(b1.addr,
      Iterator(("t_restart", "before", Map.empty[String, String])))
    assert(b1.messages("t_restart").map(_.data) == Seq("before"))
    b1.close()
    // broker restarts on the SAME port, losing all topics — the stale
    // JVM-global create-once cache would skip ensureTopic forever.
    // Rebinding a just-closed port can transiently fail under the full
    // suite (accept-thread teardown, ephemeral-port churn from parallel
    // Spark services) even with SO_REUSEADDR — retry briefly.
    def rebind(attempts: Int): NetBroker =
      try new NetBroker(port)
      catch {
        case _: java.net.BindException if attempts > 0 =>
          Thread.sleep(200); rebind(attempts - 1)
      }
    val b2 = rebind(25)
    try {
      intercept[java.io.IOException] {
        NetPublisher.publishPartition(b2.addr,
          Iterator(("t_restart", "lost", Map.empty[String, String])))
      }
      // the NAK evicted the addr's cache entries, so the retry path
      // (ensureTopic + publish, exactly what a batch replay runs)
      // re-creates the topic instead of wedging on repeated NAKs
      NetPublisher.ensureTopic(b2.addr, "t_restart")
      NetPublisher.publishPartition(b2.addr,
        Iterator(("t_restart", "after", Map.empty[String, String])))
      assert(b2.createCount("t_restart") == 1)
      assert(b2.messages("t_restart").map(_.data) == Seq("after"))
    } finally b2.close()
  }

  test("s_route_publish_net: corrupt length prefix is NAK'd, not allocated") {
    val broker = new NetBroker()
    try {
      for (badLen <- Seq(-7, Int.MaxValue)) {
        val sock = new java.net.Socket("127.0.0.1", broker.port)
        try {
          val out = new java.io.DataOutputStream(sock.getOutputStream)
          out.writeByte(2) // CmdPublish
          out.writeUTF("t")
          out.writeInt(badLen) // hostile/corrupt frame length
          out.flush()
          val reply = new java.io.DataInputStream(sock.getInputStream).readByte()
          assert(reply == 0x15, s"len=$badLen must NAK, got $reply")
        } finally sock.close()
      }
      // broker survives the corrupt frames and still serves good ones
      NetPublisher.reset()
      NetPublisher.ensureTopic(broker.addr, "t_ok")
      NetPublisher.publishPartition(broker.addr,
        Iterator(("t_ok", "fine", Map.empty[String, String])))
      assert(broker.messages("t_ok").map(_.data) == Seq("fine"))
    } finally broker.close()
  }

  test("s_cdc_upsert_materialize: newest wins, deletes drop, late arrivals lose, pointer swap") {
    val in = tmp("cdc-upsert"); val table = tmp("cdc-table")
    write(in, s"sharedKey=k1/t/2024-01-01/${ts33(1)}-u1-orders-1.ndjson",
      Seq(envLine(1), envLine(2), envLine(3)))
    val parsed = Streams.parseEnvelope(Streams.ingestLines(spark, in), payload)
    val q = Streams.cdcUpsertMaterialize(parsed, table, tmp("cdc-up-ckpt"))
    q.processAllAvailable()
    assert(Streams.readMaterialized(spark, table).get.count() == 3)
    // second delivery: newer update to key 1, delete of key 2, and a LATE
    // (older-updated) version of key 3 that must NOT overwrite
    val newK1 = s"""{"after": {"o_orderkey": 1, "o_custkey": 1, "o_totalprice": 999.5}, "key": [1], "updated": "${upd(10)}"}"""
    val delK2 = s"""{"after": null, "key": [2], "updated": "${upd(11)}"}"""
    val lateK3 = s"""{"after": {"o_orderkey": 3, "o_custkey": 3, "o_totalprice": 111.5}, "key": [3], "updated": "${upd(0)}"}"""
    write(in, s"sharedKey=k1/t/2024-01-01/${ts33(2)}-u2-orders-1.ndjson",
      Seq(newK1, delK2, lateK3))
    q.processAllAvailable()
    // third delivery: a LATE upsert of key 2 OLDER than its delete —
    // the tombstone must keep outranking it across batches
    val lateK2 = s"""{"after": {"o_orderkey": 2, "o_custkey": 2, "o_totalprice": 777.5}, "key": [2], "updated": "${upd(4)}"}"""
    write(in, s"sharedKey=k1/t/2024-01-01/${ts33(3)}-u3-orders-1.ndjson",
      Seq(lateK2))
    q.processAllAvailable()
    q.stop()
    val st = Streams.readMaterialized(spark, table).get
      .select(col("key_id"), col("after.o_totalprice"), col("updated"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(st.keySet == Set(1L, 3L),
      s"delete must drop key 2 and its tombstone must block the late " +
        s"older upsert, got $st")
    assert(st(1L) == 999.5, "newest version must win for key 1")
    assert(st(3L) == 30.5, "late-arriving older version must lose for key 3")
    // tombstones are retained by default (no low watermark configured):
    // key 2's delete marker still outranks anything older
    val raw = committedState(table)
    assert(raw.filter(col("deleted")).count() == 1,
      "delete tombstone must be retained without a low watermark")
    // published via the MANIFEST pointer: stale version dirs pruned
    val vdirs = versionDirs(table)
    assert(vdirs.size <= 2, s"stale version dirs not pruned: $vdirs")
  }

  test("s_cdc_upsert_materialize: retains current + one prior; older pins fail") {
    val in = tmp("cdc-ret"); val table = tmp("cdc-ret-table")
    val parsed =
      Streams.parseEnvelope(Streams.ingestLines(spark, in), payload)
    val q = Streams.cdcUpsertMaterialize(parsed, table, tmp("cdc-ret-ckpt"))
    for (i <- 1 to 4) {
      write(in, s"sharedKey=k1/t/2024-01-01/${ts33(i)}-u$i-orders-1.ndjson",
        Seq(envLine(i)))
      q.processAllAvailable()
    }
    q.stop()
    // 4 commits through the one vacuum: exactly the committed version
    // and the one before it survive, so a reader that resolved the
    // table one batch ago still finds its files
    val vdirs = versionDirs(table)
    assert(vdirs.size == 2, s"must keep current + one prior: $vdirs")
    val hist = FixtureLayout.listVersions(table).map(_._1)
    assert(hist == Seq(1, 2, 3, 4), s"one history entry per batch: $hist")
    assert(FixtureLayout.readExportVersion(spark, table, 3)
      .filter(!col("deleted")).count() == 3,
      "the prior generation must still be readable")
    val e = intercept[IllegalStateException] {
      FixtureLayout.readExportVersion(spark, table, 2)
    }
    assert(e.getMessage.contains("vacuum"),
      s"an expired pin must name the vacuum, got: ${e.getMessage}")
  }

  test("s_resolved_watermark: markers advance monotonically per batch") {
    val in = tmp("cdc-res"); val markers = tmp("cdc-markers")
    write(in, s"sharedKey=k1/t/2024-01-01/${ts33(1)}-u1-orders-1.ndjson",
      Seq(envLine(1), envLine(2)))
    val parsed = Streams.parseEnvelope(Streams.ingestLines(spark, in), payload)
    val q = Streams.resolvedWatermark(parsed, markers, tmp("cdc-res-ckpt"))
    q.processAllAvailable()
    write(in, s"sharedKey=k1/t/2024-01-01/${ts33(2)}.RESOLVED",
      Seq(s"""{"resolved": "${upd(10)}"}"""))
    q.processAllAvailable()
    write(in, s"sharedKey=k1/t/2024-01-01/${ts33(3)}-u2-orders-1.ndjson",
      Seq(envLine(20)))
    q.processAllAvailable()
    q.stop()
    val ms = Files.list(Paths.get(markers)).sorted().toArray.toSeq
      .map(p => Files.readString(p.asInstanceOf[Path]))
    assert(ms.nonEmpty)
    val values = ms.map(s => s.split("\"")(3))
    assert(values == values.sorted, s"markers not monotone: $values")
    assert(values.last == upd(20))
  }

  test("s_resolved_watermark: a batch with an older max keeps the earlier marker") {
    val in = tmp("cdc-res-old"); val markers = tmp("cdc-markers-old")
    val parsed = Streams.parseEnvelope(Streams.ingestLines(spark, in), payload)
    val q = Streams.resolvedWatermark(parsed, markers, tmp("cdc-res-old-ckpt"))
    write(in, s"sharedKey=k1/t/2024-01-01/${ts33(1)}-u1-orders-1.ndjson",
      Seq(envLine(20)))
    q.processAllAvailable()
    write(in, s"sharedKey=k1/t/2024-01-01/${ts33(2)}-u2-orders-1.ndjson",
      Seq(envLine(15)))
    q.processAllAvailable()
    q.stop()
    val names = Files.list(Paths.get(markers)).toArray.toSeq
      .map(_.asInstanceOf[Path].getFileName.toString).sorted
    assert(names == Seq("batch-00000.RESOLVED", "batch-00001.RESOLVED"),
      s"expected one marker per batch and no temp file, got $names")
    val values = names.map(n =>
      Files.readString(Paths.get(markers, n)).split("\"")(3))
    assert(values == Seq(upd(20), upd(20)), s"markers: $values")
  }

  // ------------------------------------------------------------ windows

  private def writeEventFixture(dir: String): Unit = {
    write(dir, "b1.ndjson", Seq(
      evLine(1, "2024-01-01T00:00:10Z", 1, "click", 1.5),
      evLine(2, "2024-01-01T00:00:50Z", 1, "click", 2.0),
      evLine(3, "2024-01-01T00:01:10Z", 2, "buy", 10.0),
      evLine(4, "2024-01-01T00:03:30Z", 2, "click", 0.5),
      evLine(5, "2024-01-01T00:04:00Z", 1, "buy", 7.25)))
  }

  test("s_window_tumbling: stream == batch golden") {
    val dir = tmp("ev-tumble"); writeEventFixture(dir)
    runToMemory(Streams.windowTumbling(eventStream(dir)), "t_tumble", "complete")
    assert(sortedRows(spark.table("t_tumble")) ==
      sortedRows(Streams.windowTumbling(eventBatch(dir))))
    assert(spark.table("t_tumble").count() == 4)
  }

  test("s_window_sliding: stream == batch golden") {
    val dir = tmp("ev-slide"); writeEventFixture(dir)
    runToMemory(Streams.windowSliding(eventStream(dir)), "t_slide", "complete")
    assert(sortedRows(spark.table("t_slide")) ==
      sortedRows(Streams.windowSliding(eventBatch(dir))))
    // 5-min windows sliding 1 min: every event lands in 5 windows
    assert(spark.table("t_slide").agg(sum(col("n"))).collect()(0).getLong(0) == 25)
  }

  test("s_window_distinct: stream == batch golden, sketch exact at small n") {
    val dir = tmp("ev-dist"); writeEventFixture(dir)
    runToMemory(Streams.windowDistinct(eventStream(dir)), "t_dist", "complete")
    assert(sortedRows(spark.table("t_dist")) ==
      sortedRows(Streams.windowDistinct(eventBatch(dir))))
    // HLL++ is exact at fixture cardinalities: sketch == true distinct
    val truth = Streams.windowTumbling(eventBatch(dir))
      .select("w_start", "event_type").collect().length
    assert(spark.table("t_dist").count() == truth,
      "one sketch row per (window, type) group")
    assert(spark.table("t_dist").collect()
      .forall(_.getLong(2) >= 1L))
  }

  test("s_window_session: closed sessions == batch golden") {
    val dir = tmp("ev-sess"); writeEventFixture(dir)
    val q = Streams.windowSession(eventStream(dir)).writeStream
      .format("memory").queryName("t_sess").outputMode("append").start()
    q.processAllAvailable()
    // flush event 2h later: watermark passes, closing all real sessions
    write(dir, "b2.ndjson", Seq(evLine(99, "2024-01-01T02:00:00Z", 9, "x", 0.0)))
    q.processAllAvailable()
    q.stop()
    val flushTs = java.sql.Timestamp.valueOf("2024-01-01 02:00:00")
    val golden = Streams.windowSession(eventBatch(dir))
      .filter(col("s_start") < lit(flushTs))
    assert(sortedRows(spark.table("t_sess")) == sortedRows(golden))
    // users 1 and 2 each have one 30-min-gap session over these events
    assert(spark.table("t_sess").count() == 2)
  }

  test("real events fixture streams through the same loader boundary as batch") {
    // Round-9 in one spec: the streaming side must consume the REAL
    // events.parquet through the SAME schema-reconciliation boundary as
    // batch (Tables.reconcile), not a hand-built schema that can drift
    // from the fixture's physical encoding. Pins (1) stream/batch schema
    // agreement at the boundary and (2) fixture-fed streaming sessions
    // equal to the batch q_sessionize contract query.
    val dir = tmp("ev-real")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val physical = spark.read.parquet(dir).schema
    val stream = Tables.reconcile("events",
      spark.readStream.schema(physical).parquet(dir))
    assert(stream.isStreaming)
    assert(stream.schema == Tables(spark, sf, "events").schema,
      "stream and batch disagree on the post-reconciliation events schema")
    // same 5-minute gap as q_sessionize; no exact-gap events exist in the
    // fixture, so session_window (splits at diff >= gap) and the batch
    // lag-based rule (splits at diff > gap) define identical sessions
    val sessions = stream.withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("n"))
    runToMemory(sessions, "t_real_sess", "complete")
    val got = spark.table("t_real_sess")
    val batch = SparkEntry.queries("q_sessionize")(spark, sf)
      .select(col("user_id"), col("n_events").as("n"))
    // identical multiset of (user, session-size): same session boundaries,
    // same total events, derived from the same physical fixture bytes
    assert(sortedRows(got) == sortedRows(batch))
  }

  test("s_export_manifested: epoch commit, torn epochs invisible, replay no-op") {
    val in = tmp("exp-in")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      java.nio.file.Paths.get(s"$in/documents.parquet"))
    val dest = tmp("exp-out"); val cp = tmp("exp-cp")
    val schema = spark.read.parquet(in).schema
    val q = Streams.exportManifested(
      spark.readStream.schema(schema).parquet(in), dest, 4, cp)
    q.processAllAvailable(); q.stop()
    val expected = spark.read.parquet(in).count()
    val got = Streams.readManifestedExport(spark, dest)
    assert(got.count() == expected, "export lost or duplicated rows")
    assert(got.select("shard").distinct().collect()
      .map(_.getLong(0)).forall(s => s >= 0 && s < 4))
    // a torn epoch (data files present, no MANIFEST — a writer that died
    // before its commit point) must be invisible to readers
    val torn = new java.io.File(s"$dest/epoch=999/v-torn")
    torn.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(torn, "junk.parquet").toPath, "junk".getBytes)
    assert(Streams.readManifestedExport(spark, dest).count() == expected,
      "torn (uncommitted) epoch leaked into the read view")
    // replaying a committed epoch (foreachBatch re-run after crash) is a
    // no-op: the writer must not even execute
    graft.queries.FixtureLayout.ensureManifested(s"$dest/epoch=0") { _ =>
      fail("writer re-ran for an already-committed epoch"); ()
    }
  }

  // ----------------------------------------------------------- stateful

  test("s_dedup_ids: at-least-once replay becomes effectively-once") {
    val dir = tmp("ev-dedup")
    write(dir, "b1.ndjson", Seq(
      evLine(1, "2024-01-01T00:00:10Z", 1, "click", 1.0),
      evLine(2, "2024-01-01T00:00:20Z", 1, "click", 2.0)))
    val q = Streams.dedupIds(eventStream(dir)).writeStream
      .format("memory").queryName("t_dedup").outputMode("append").start()
    q.processAllAvailable()
    // CRDB re-POST on 500 (publisher.go:167-175): same file content again
    write(dir, "b2.ndjson", Seq(
      evLine(1, "2024-01-01T00:00:10Z", 1, "click", 1.0), // dup
      evLine(3, "2024-01-01T00:00:30Z", 2, "buy", 3.0)))  // new
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("t_dedup").select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), s"got $ids")
  }

  test("s_late_data: rows beyond the watermark are dropped") {
    val dir = tmp("ev-late")
    write(dir, "b1.ndjson", Seq(
      evLine(1, "2024-01-01T01:00:00Z", 1, "click", 1.0)))
    val q = Streams.lateDataAgg(eventStream(dir)).writeStream
      .format("memory").queryName("t_late").outputMode("append").start()
    q.processAllAvailable() // watermark -> 00:50
    write(dir, "b2.ndjson", Seq(
      evLine(2, "2024-01-01T00:10:00Z", 1, "late", 1.0))) // < 00:50: late
    q.processAllAvailable()
    val dropped = q.recentProgress
      .flatMap(p => p.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    q.stop()
    assert(dropped == 1, s"expected 1 watermark-dropped row, got $dropped")
  }

  test("s_rate_limit: per-user window quota, 429s surfaced, windows reset") {
    val dir = tmp("ev-rate")
    // window = 60 s, limit = 2: user 1 sends 4 events in window 0 and 1
    // in the next window; user 2 sends 1 — admission is per (user,
    // window), excess marked not dropped
    write(dir, "b1.ndjson", Seq(
      evLine(1, "2024-01-01T00:00:01Z", 1, "click", 1.0),
      evLine(2, "2024-01-01T00:00:02Z", 1, "click", 1.0),
      evLine(3, "2024-01-01T00:00:03Z", 1, "click", 1.0),
      evLine(4, "2024-01-01T00:00:04Z", 1, "click", 1.0),
      evLine(5, "2024-01-01T00:00:05Z", 2, "click", 1.0)))
    import spark.implicits._
    val q = Streams.rateLimit(eventStream(dir).as[Streams.Event],
        limit = 2, windowSec = 60)
      .writeStream.format("memory").queryName("t_rate")
      .outputMode("append").start()
    q.processAllAvailable()
    // quota spans micro-batches: one more in the SAME window (still
    // over quota for user 1) and one in the NEXT window (fresh quota)
    write(dir, "b2.ndjson", Seq(
      evLine(6, "2024-01-01T00:00:50Z", 1, "click", 1.0),
      evLine(7, "2024-01-01T00:01:10Z", 1, "click", 1.0)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t_rate")
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    // deterministic admission order within (user, window): ts asc
    assert(rows == Map(1L -> true, 2L -> true, 3L -> false, 4L -> false,
      5L -> true, 6L -> false, 7L -> true), s"admissions: $rows")
    // every event is surfaced with a verdict — nothing silently dropped
    assert(rows.size == 7)
  }

  test("s_stateful_counter: running per-user state == batch aggregate") {
    val dir = tmp("ev-state"); writeEventFixture(dir)
    import spark.implicits._
    val finalState = TrieMap[Long, (Long, Double)]()
    val counted = Streams.statefulCounter(
      eventStream(dir).as[Streams.Event])
    val q = counted.writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.UserCount], _: Long) =>
        b.collect().foreach(u =>
          finalState(u.user_id) = (u.n_events, u.sum_value))
        ()
      }.start()
    q.processAllAvailable()
    // second batch: state carries across micro-batches
    write(dir, "b2.ndjson", Seq(evLine(6, "2024-01-01T00:05:00Z", 1, "click", 1.0)))
    q.processAllAvailable()
    q.stop()
    val golden = eventBatch(dir).groupBy("user_id")
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("s"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(finalState.toMap == golden, s"state=$finalState golden=$golden")
  }

  test("s_cdc_upsert_materialize: tombstones age out past the configured low watermark") {
    val in = tmp("cdc-gc"); val table = tmp("cdc-gc-table")
    write(in, s"sharedKey=k1/t/2024-01-01/${ts33(1)}-u1-orders-1.ndjson",
      Seq(envLine(1), delLine(2)))
    val parsed = Streams.parseEnvelope(Streams.ingestLines(spark, in), payload)
    // low watermark ABOVE the delete's updated: the source has promised
    // nothing older than upd(50) will arrive, so the tombstone may go
    spark.conf.set("spark.graft.tombstoneLowWatermark", upd(50))
    try {
      val q = Streams.cdcUpsertMaterialize(parsed, table, tmp("cdc-gc-ckpt"))
      q.processAllAvailable()
      write(in, s"sharedKey=k1/t/2024-01-01/${ts33(2)}-u2-orders-1.ndjson",
        Seq(envLine(3)))
      q.processAllAvailable()
      q.stop()
      val raw = committedState(table)
      assert(raw.filter(col("deleted")).count() == 0,
        "tombstone below the low watermark must be garbage-collected")
      assert(Streams.readMaterialized(spark, table).get
        .select("key_id").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    } finally spark.conf.unset("spark.graft.tombstoneLowWatermark")
  }

  test("s_stateful_counter_tws: transformWithState on RocksDB == batch aggregate") {
    val dir = tmp("ev-tws"); writeEventFixture(dir)
    // transformWithState requires the RocksDB state store provider — the
    // spillable, changelog-checkpointed store that is also the 100-TB
    // choice (HDFSBackedStateStore keeps every key on-heap)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      import spark.implicits._
      val finalState = TrieMap[Long, (Long, Double)]()
      val counted = Streams.statefulCounterTws(
        eventStream(dir).as[Streams.Event])
      val q = counted.writeStream.outputMode("update")
        .option("checkpointLocation", tmp("ev-tws-ckpt"))
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.UserCount], _: Long) =>
          b.collect().foreach(u =>
            finalState(u.user_id) = (u.n_events, u.sum_value))
          ()
        }.start()
      q.processAllAvailable()
      // second batch: ValueState carries across micro-batches
      write(dir, "b2.ndjson", Seq(evLine(6, "2024-01-01T00:05:00Z", 1, "click", 1.0)))
      q.processAllAvailable()
      q.stop()
      val golden = eventBatch(dir).groupBy("user_id")
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("s"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(finalState.toMap == golden, s"state=$finalState golden=$golden")
    } finally spark.conf
      .unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("s_join_stream_stream: watermarked interval join == batch golden") {
    val la = tmp("ev-ssl"); val rb = tmp("ev-ssr")
    write(la, "a.ndjson", Seq(
      evLine(1, "2024-01-01T00:10:00Z", 1, "order", 1.0),
      evLine(2, "2024-01-01T00:20:00Z", 2, "order", 2.0)))
    write(rb, "b.ndjson", Seq(
      evLine(11, "2024-01-01T00:05:00Z", 1, "click", 0.0), // within 10m of ev1
      evLine(12, "2024-01-01T00:19:00Z", 2, "click", 0.0), // within 10m of ev2
      evLine(13, "2024-01-01T00:01:00Z", 2, "click", 0.0), // too early for ev2
      evLine(14, "2024-01-01T00:15:00Z", 9, "click", 0.0))) // no left match
    val joined = Streams.joinStreamStream(eventStream(la), eventStream(rb))
      .select("l_id", "r_id")
    runToMemory(joined, "t_ssjoin", "append")
    val got = sortedRows(spark.table("t_ssjoin"))
    val golden = sortedRows(
      Streams.joinStreamStream(eventBatch(la), eventBatch(rb))
        .select("l_id", "r_id"))
    assert(got == golden)
    assert(got.size == 2, s"expected exactly the two in-interval matches: $got")
  }

  test("s_checkpoint_recovery: restart from checkpoint is exactly-once") {
    val in = tmp("cdc-ckptrec"); val out = tmp("cdc-ckptrec-out")
    val ckpt = tmp("cdc-ckptrec-ck")
    writeCdcDrop(in)
    val q1 = Streams.routePublish(routedCdc(in), out, ckpt)
    q1.processAllAvailable()
    q1.stop() // simulated crash/redeploy: new query, SAME checkpoint
    write(in, s"sharedKey=k1/ord_topic/2024-01-02/${ts33(8)}-u8-orders-1.ndjson",
      Seq(envLine(21)))
    val q2 = Streams.routePublish(routedCdc(in), out, ckpt)
    q2.processAllAvailable()
    q2.stop()
    val published = spark.read.parquet(s"$out/data")
    val routable = published.filter(col("topic") =!= "__dead_letter")
    // batch 1's 6 routable rows and its 1 dead letter published once —
    // NOT re-published on restart — plus exactly the 1 new row
    assert(routable.count() == 7, s"got ${routable.count()}")
    assert(published.filter(col("topic") === "__dead_letter").count() == 1)
    assert(routable.filter(col("updated") === f"${21L}%023d.0000000001")
      .count() == 1)
  }

  test("s_checkpoint_recovery: a batch replayed after a lost commit publishes once") {
    // the CrashPrefixSpec method: two one-file batches, then the last
    // batch's commit entry and checksum are deleted, as a crash after
    // the sink write and before the commit-log write leaves them
    val in = tmp("cdc-replay"); val out = tmp("cdc-replay-out")
    val ckpt = tmp("cdc-replay-ck")
    val q1 = Streams.routePublish(routedCdc(in), out, ckpt)
    write(in, s"sharedKey=k1/ord_topic/2024-01-01/${ts33(1)}-u1-orders-1.ndjson",
      Seq(envLine(1), envLine(2)))
    q1.processAllAvailable()
    write(in, "sharedKey=k1/junk.txt", Seq("""{"x": 1}"""))
    q1.processAllAvailable()
    q1.stop()
    val last = new java.io.File(ckpt, "commits").list()
      .flatMap(_.toLongOption).max
    assert(last == 1, s"expected two batches, last id $last")
    Seq(s"$last", s".$last.crc").foreach(f =>
      Files.deleteIfExists(Paths.get(ckpt, "commits", f)))
    val q2 = Streams.routePublish(routedCdc(in), out, ckpt)
    q2.processAllAvailable()
    q2.stop()
    val published = spark.read.parquet(s"$out/data")
    assert(sortedRows(published.filter(col("topic") =!= "__dead_letter")
      .select("updated")) == Seq(upd(1), upd(2)).map(u => s"[$u]"))
    assert(published.filter(col("topic") === "__dead_letter").count() == 1,
      "the replayed batch published its dead letter again")
  }

  test("s_checkpoint_recovery: a fresh checkpoint on a published dir fails") {
    // the sink's log would skip batch 0 of a new checkpoint, dropping it
    val in = tmp("cdc-refresh"); val out = tmp("cdc-refresh-out")
    write(in, s"sharedKey=k1/ord_topic/2024-01-01/${ts33(1)}-u1-orders-1.ndjson",
      Seq(envLine(1)))
    val q1 = Streams.routePublish(routedCdc(in), out, tmp("cdc-refresh-ck1"))
    q1.processAllAvailable()
    q1.stop()
    val e = intercept[IllegalArgumentException] {
      Streams.routePublish(routedCdc(in), out, tmp("cdc-refresh-ck2")).stop()
    }
    assert(e.getMessage.contains("published under another checkpoint"))
  }

  test("s_enrich_static: stream-static dim join == batch golden") {
    val in = tmp("cdc-enrich")
    write(in, s"sharedKey=k1/t/2024-01-01/${ts33(1)}-u1-orders-1.ndjson",
      Seq(envLine(1), envLine(2), envLine(13)))
    val dim = spark.createDataFrame(Seq(
      (1L, "cust-one"), (2L, "cust-two"), (7L, "cust-seven")))
      .toDF("cust_id", "cust_name")
    def pipeline(lines: DataFrame) = Streams.enrichStatic(
      Streams.parseEnvelope(lines, payload)
        .filter(col("op") === "upsert")
        .select(col("after.o_orderkey").as("okey"),
          col("after.o_custkey").as("ckey")),
      dim, "ckey", "cust_id")
      .select("okey", "ckey", "cust_name")
    runToMemory(pipeline(Streams.ingestLines(spark, in)), "t_enrich", "append")
    val got = sortedRows(spark.table("t_enrich"))
    assert(got == sortedRows(pipeline(batchLines(in))))
    // okey 1 -> ckey 1 matched, okey 2 -> ckey 2 matched,
    // okey 13 -> ckey 3 unmatched (left join null)
    assert(got.size == 3)
    assert(spark.table("t_enrich")
      .filter(col("cust_name").isNull).count() == 1)
  }

  test("s_curation_filter: stream == batch golden, and == the batch operators") {
    val dir = tmp("docs-in")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .coalesce(1).write.mode("overwrite").json(dir)
    runToMemory(Streams.curationFilter(
      spark.readStream.schema(Streams.docSchema).json(dir)),
      "t_curation", "append")
    val got = sortedRows(spark.table("t_curation"))
    assert(got.nonEmpty)
    // golden 1: identical transform on the batch read of the same drop
    assert(got == sortedRows(Streams.curationFilter(
      spark.read.schema(Streams.docSchema).json(dir))))
    // golden 2: per-doc verdict bits match the PROVEN batch operators
    // (q_lang_id's pred_lang, q_quality_score's quality) on the fixture
    val lang = SparkEntry.queries("q_lang_id")(spark, sf)
      .select("doc_id", "pred_lang")
    val qual = SparkEntry.queries("q_quality_score")(spark, sf)
      .select("doc_id", "quality")
    val want = sortedRows(lang.join(qual, "doc_id")
      .select(col("doc_id"), col("pred_lang"), col("quality"),
        (col("pred_lang") === "en" && col("quality") >= 0.15).as("keep")))
    assert(got == want,
      "streamed curation verdict diverged from the batch operators")
  }

  test("s_dedup_within_watermark: stream == batch q_dedup_exact on the same drop") {
    val dir = tmp("docs-dedup")
    // One sorted single-partition file: arrival order is doc_id order,
    // so the streaming keep-first-arrival survivor IS the batch
    // keep-min-doc_id canonical and the two modes must agree exactly.
    spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
      .orderBy("doc_id").coalesce(1)
      .write.mode("overwrite").json(dir)
    // At-least-once redelivery: the first 10 docs arrive AGAIN 5 minutes
    // later (same doc_id, same text — inside the watermark horizon).
    // Content-keyed dedup must swallow them.
    val redeliverDir = tmp("docs-dedup-redeliver")
    spark.read.parquet(s"$sf/documents.parquet")
      .orderBy("doc_id").limit(10)
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:05:00")))
      .coalesce(1).write.mode("overwrite").json(redeliverDir)
    val part = new java.io.File(redeliverDir).listFiles()
      .filter(_.getName.startsWith("part-")).head
    java.nio.file.Files.move(part.toPath,
      new java.io.File(dir, "zz-redelivery.json").toPath)
    val schema = org.apache.spark.sql.types.StructType(
      Streams.docSchema.fields :+ org.apache.spark.sql.types.StructField(
        "ts", org.apache.spark.sql.types.TimestampType))
    runToMemory(Streams.dedupWithinWatermark(
      spark.readStream.schema(schema).json(dir)), "t_sdedup", "append")
    val got = spark.table("t_sdedup")
    val batch = SparkEntry.queries("q_dedup_exact")(spark, sf)
    assert(got.count() > 0)
    assert(sortedRows(got.select("doc_id", "digest", "lang", "source")) ==
      sortedRows(batch.select("doc_id", "digest", "lang", "source")),
      "streamed within-watermark dedup diverged from batch q_dedup_exact")
    // the redelivered copies were dropped, not re-emitted
    val raw = spark.read.schema(schema).json(dir).count()
    assert(got.count() < raw, "no duplicates were dropped")
  }

  test("s_neardup_within_watermark: flags contain batch LSH verdicts; redeliveries swallowed") {
    // Stage the embeddings fixture as a stream: ts = base + vec_id
    // seconds (arrival order = id order), plus REDELIVERED copies of the
    // first vectors 60s later.
    val dir = tmp("emb-neardup")
    val emb = graft.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    emb.withColumn("ts", expr("timestamp_seconds(1700000000 + vec_id)"))
      .write.mode("overwrite").parquet(dir)
    emb.filter(col("vec_id") < 10)
      .withColumn("ts", expr("timestamp_seconds(1700000060 + vec_id)"))
      .write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    runToMemory(Streams.nearDupWithinWatermark(
      spark.readStream.schema(schema).parquet(dir)), "t_neardup", "append")
    val flags = spark.table("t_neardup").collect()
    assert(flags.nonEmpty)
    val flagged = flags.map(_.getLong(0)).toSet
    flags.foreach { r =>
      assert(r.getInt(3) <= graft.queries.AnnOps.rpHamMax,
        s"flag beyond the declared Hamming radius: $r")
    }
    // batch containment: for every batch near-dup verdict, the LATER
    // member of the (vec, best-mate) pair must be stream-flagged —
    // pigeonhole guarantees they share a band bucket, and the earlier
    // member was in state when the later one arrived
    val batch = SparkEntry.queries("q_dedup_embedding_lsh")(spark, sf)
      .collect().filter(r => !r.isNullAt(1) && r.getBoolean(4))
    assert(batch.nonEmpty, "fixture has no batch near-dup verdicts to pin")
    batch.foreach { r =>
      val later = math.max(r.getLong(0), r.getLong(1))
      assert(flagged.contains(later),
        s"batch near-dup pair (${r.getLong(0)}, ${r.getLong(1)}): " +
          s"later member $later not flagged by the stream")
    }
    // every redelivered copy is flagged at Hamming 0 (identical
    // signature) — the downstream keep-if-unflagged filter swallows it
    val redelivered = emb.filter(col("vec_id") < 10)
      .collect().map(_.getLong(0)).toSet
    redelivered.foreach { vid =>
      assert(flags.exists(r => r.getLong(0) == vid && r.getInt(3) == 0),
        s"redelivered vector $vid was not flagged as an exact signature dup")
    }
    // determinism: a second identical run produces the identical flag set
    runToMemory(Streams.nearDupWithinWatermark(
      spark.readStream.schema(schema).parquet(dir)), "t_neardup2", "append")
    assert(sortedRows(spark.table("t_neardup2")) ==
      sortedRows(spark.table("t_neardup")))
  }

  // ---------------------------------------------------------- lifecycle

  test("s_console_dump: --dumpOnly mode logs instead of publishing") {
    val dir = tmp("ev-console"); writeEventFixture(dir)
    val q = Streams.consoleDump(eventStream(dir))
    q.processAllAvailable()
    val progressed = q.recentProgress.nonEmpty
    q.stop()
    assert(progressed, "console query made no progress")
  }

  test("s_graceful_drain: drains in-flight input within the grace period") {
    val dir = tmp("ev-drain"); writeEventFixture(dir)
    val q = eventStream(dir).writeStream.format("memory")
      .queryName("t_drain").outputMode("append").start()
    val drained = Streams.gracefulDrain(q, graceMs = 30000)
    assert(drained, "query did not drain within grace period")
    assert(!q.isActive)
    assert(spark.table("t_drain").count() == 5)
    // R16 exit-code contract: clean drain == "goodbye" exit 0
    assert(graft.streaming.ExitCodes.of(drained) == 0)
    assert(graft.streaming.ExitCodes.of(false) == 1)
  }

  test("s_healthz: health probe is 200 while serving, 503 after stop (R13)") {
    val mon = graft.streaming.HealthMonitor.attach(spark, staleAfterMs = 60000)
    try {
      val dir = tmp("ev-health"); writeEventFixture(dir)
      val q = eventStream(dir).writeStream.format("memory")
        .queryName("t_health").outputMode("append").start()
      q.processAllAvailable()
      // listener bus is async — poll briefly for the start/progress event
      val deadline = System.currentTimeMillis() + 10000
      while (!mon.isHealthy(q) && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(mon.isHealthy(q), "active progressing query must be healthy")
      assert(mon.isHealthy, "process probe must be 200 while serving")
      q.stop()
      q.awaitTermination(10000)
      assert(!mon.isHealthy(q), "stopped query must read unhealthy")
      assert(!mon.isHealthy, "process probe must flip to 503 after stop")
    } finally mon.close()
  }

  test("s_healthz: stale progress reads unhealthy even while active (wedge detection)") {
    // staleAfterMs=0: any event older than 'now' is stale — models a query
    // that is isActive but wedged, the case a bare isActive probe misses
    val mon = graft.streaming.HealthMonitor.attach(spark, staleAfterMs = 0)
    try {
      val dir = tmp("ev-stale"); writeEventFixture(dir)
      val q = eventStream(dir).writeStream.format("memory")
        .queryName("t_stale").outputMode("append").start()
      q.processAllAvailable()
      Thread.sleep(100)
      assert(q.isActive, "query should still be active")
      assert(!mon.isHealthy(q),
        "active-but-stale query must read unhealthy (liveness, not just isActive)")
      q.stop()
    } finally mon.close()
  }
}
