package graft

import graft.queries.GraphOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Algebraic properties from SURVEY §5.2: invariants that must hold for
  * any input, checked over the fixture tables. */
class PropertiesSpec extends AnyFunSuite {
  import TestSpark._

  test("union_all count additivity: |A ∪all B| == |A| + |B|") {
    val o = Tables(spark, sf, "orders")
    val a = o.filter(col("o_totalprice") > 200000)
    val b = o.filter(col("o_orderstatus") === "F")
    assert(a.unionByName(b).count() == a.count() + b.count())
  }

  test("inner equi-join commutativity: row sets match either direction") {
    val o = Tables(spark, sf, "orders").select("o_orderkey", "o_custkey")
    val c = Tables(spark, sf, "customer").select("c_custkey", "c_name")
    val ab = o.join(c, o("o_custkey") === c("c_custkey"))
      .select("o_orderkey", "c_custkey").collect().map(_.toString).sorted
    val ba = c.join(o, o("o_custkey") === c("c_custkey"))
      .select("o_orderkey", "c_custkey").collect().map(_.toString).sorted
    assert(ab.toSeq == ba.toSeq)
  }

  test("latest_by_key compaction is idempotent") {
    val once = SparkEntry.queries("q_cdc_latest_by_key")(spark, sf)
    // compacting the already-compacted stream changes nothing
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderkey").orderBy(col("updated").desc)
    val twice = once.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    assert(once.count() == twice.count())
    assert(once.collect().map(_.toString).sorted.toSeq ==
      twice.collect().map(_.toString).sorted.toSeq)
  }

  test("exact dedup is idempotent and digest-complete") {
    val d1 = SparkEntry.queries("q_dedup_exact")(spark, sf)
    val digests = d1.select("digest").distinct().count()
    assert(digests == d1.count())
  }

  test("propagateMinLabels == brute-force union-find on random graphs") {
    import spark.implicits._
    // deterministic pseudo-random graphs (fixed seeds): the distributed
    // pointer-doubling kernel must agree with a driver-side union-find
    // on every one — components AND the component-min labeling
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val n = 40
      val pairs = Seq.fill(45)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      pairs.foreach { case (a, b) =>
        parent(find(a.toInt)) = find(b.toInt)
      }
      val expected = (0 until n).groupBy(find).values
        .flatMap { grp => val m = grp.map(_.toLong).min
          grp.map(v => v.toLong -> m) }.toMap
      val edges = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
        .localCheckpoint(true)
      val got = graft.queries.AnnOps.propagateMinLabels(edges)._1
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // the kernel only labels nodes WITH edges; compare on that set
      got.foreach { case (v, lbl) =>
        assert(lbl == expected(v),
          s"seed $seed: node $v labeled $lbl, union-find says ${expected(v)}")
      }
      val touched = pairs.flatMap(p => Seq(p._1, p._2)).toSet
      assert(got.keySet == touched, s"seed $seed: node set mismatch")
    }
  }

  test("co-purchase kernel: basketPairs(baskets) == distinct + row_number cut + self-join") {
    import spark.implicits._
    // the reference is the pair shape the kernel replaced: the distinct
    // (ok, pk) incidence, a row_number-over-(ok, pk) basket cut, and the
    // a.ok = b.ok AND a.pk < b.pk self-join counted per (p1, p2)
    def reference(lines: DataFrame, cap: Int): DataFrame = {
      val inc0 = lines.distinct()
      val inc = if (cap <= 0) inc0 else inc0
        .withColumn("rn", row_number().over(
          Window.partitionBy("ok").orderBy("pk")))
        .filter(col("rn") <= cap).drop("rn")
      inc.as("a").join(inc.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("p1"), col("b.pk").as("p2"))
        .agg(count(lit(1)).as("co"))
    }
    def rows(df: DataFrame): Seq[(Long, Long, Long)] =
      df.select("p1", "p2", "co").as[(Long, Long, Long)].collect()
        .toSeq.sorted
    val lineGen: Gen[(Long, Long)] = for {
      ok <- Gen.chooseNum(0L, 30L)
      pk <- Gen.chooseNum(0L, 12L)
    } yield (ok, pk)
    for (seed <- Seq(3L, 11L, 29L)) {
      val drawn = Gen.listOfN(150, lineGen)
        .pureApply(Gen.Parameters.default, Seed(seed))
      // re-append a slice so every incidence carries duplicate rows
      val lines = (drawn ++ drawn.take(40)).toDF("ok", "pk")
      val maxBasket = drawn.distinct.groupBy(_._1).values.map(_.size).max
      for (cap <- Seq(0, 1, 2, 3, maxBasket + 1)) {
        val got = GraphOps.basketPairs(GraphOps.baskets(lines, cap))
        assert(rows(got) == rows(reference(lines, cap)),
          s"seed $seed, cap $cap: kernel pairs drifted from the self-join")
      }
    }
  }

  test("degree-ordered triangle enumeration == id-ordered on random graphs") {
    import spark.implicits._
    for (seed <- Seq(3, 11)) {
      val rnd = new scala.util.Random(seed)
      val n = 25
      val pairs = Seq.fill(60)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      val pairsDf = pairs.toDF("p1", "p2").localCheckpoint(true)
      val deg = pairsDf.select(col("p1").as("pk"))
        .unionByName(pairsDf.select(col("p2").as("pk")))
        .groupBy("pk").agg(count(lit(1)).as("degree"))
      val ori = graft.queries.GraphOps.orientEdges(pairsDf, deg)
      // invariant: lower (degree, id) -> higher, one direction per edge
      val degMap = deg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val oriRows = ori.collect()
      assert(oriRows.length == pairs.length)
      oriRows.foreach { r =>
        val (s0, d0) = (r.getLong(0), r.getLong(1))
        assert(degMap(s0) < degMap(d0) ||
          (degMap(s0) == degMap(d0) && s0 < d0))
      }
      // brute-force triangle count on the driver == oriented wedge count
      val es = pairs.toSet
      def adj(a: Long, b: Long) =
        es.contains((math.min(a, b), math.max(a, b)))
      val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
      var brute = 0
      for (i <- nodes.indices; j <- i + 1 until nodes.length;
           k <- j + 1 until nodes.length)
        if (adj(nodes(i), nodes(j)) && adj(nodes(j), nodes(k)) &&
            adj(nodes(i), nodes(k))) brute += 1
      val wedgeOrder = col("e1.ddeg") < col("e2.ddeg") ||
        (col("e1.ddeg") === col("e2.ddeg") && col("e1.dst") < col("e2.dst"))
      val tri = ori.as("e1")
        .join(ori.as("e2"), col("e1.src") === col("e2.src") && wedgeOrder)
        .join(ori.as("e3"),
          col("e3.src") === col("e1.dst") && col("e3.dst") === col("e2.dst"))
        .count()
      assert(tri == brute, s"seed $seed: oriented=$tri brute=$brute")
    }
  }

  test("q_quantiles_grouped: sketch within 1% relative error of exact per group") {
    val approx = SparkEntry.queries("q_quantiles_grouped")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    val exact = Tables(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(expr("percentile(l_extendedprice, 0.5)").as("p50"),
        expr("percentile(l_extendedprice, 0.95)").as("p95"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (g, (e50, e95)) =>
      val (a50, a95) = approx(g)
      assert(math.abs(a50 - e50) / e50 < 0.01, s"$g p50: $a50 vs $e50")
      assert(math.abs(a95 - e95) / e95 < 0.01, s"$g p95: $a95 vs $e95")
    }
  }

  test("round-6 curation ops are shuffle-partitioning invariant") {
    // hash sampling / packing / drift / clipping must not depend on how
    // the engine happens to partition — the property that makes their
    // results re-derivable on any cluster layout (SURVEY §7.4)
    val keys = Seq("q_pack_sequences", "q_domain_mix", "q_ks_drift",
      "q_winsorize", "q_decontaminate")
    val orig = spark.conf.get("spark.sql.shuffle.partitions")
    def snap() = keys.map(k => k -> SparkEntry.queries(k)(spark, sf)
      .collect().map(_.toString).sorted.toSeq).toMap
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      val a = snap()
      spark.conf.set("spark.sql.shuffle.partitions", "13")
      val b = snap()
      keys.foreach(k => assert(a(k) == b(k), s"$k varies with partitioning"))
    } finally spark.conf.set("spark.sql.shuffle.partitions", orig)
  }

  test("winsorize clipping is idempotent") {
    val w = SparkEntry.queries("q_winsorize")(spark, sf)
    val again = w.withColumn("c2",
      least(greatest(col("clipped"), col("p01")), col("p99")))
    assert(again.filter(col("c2") =!= col("clipped")).count() == 0)
  }

  test("salted join equals plain join (salt is semantics-neutral)") {
    val fact = Tables(spark, sf, "lineitem")
      .select((col("l_orderkey") % 10).as("bucket_id"), col("l_quantity"))
    val dim = Tables(spark, sf, "region")
      .select(col("r_regionkey").cast("long").as("dim_bucket"), col("r_name"))
    val salted = graft.queries.SaltedJoin.join(fact, dim, "bucket_id", "dim_bucket")
      .groupBy("bucket_id").count()
    val plain = fact.join(dim, fact("bucket_id") === dim("dim_bucket"))
      .groupBy("bucket_id").count()
    assert(salted.collect().map(_.toString).sorted.toSeq ==
      plain.collect().map(_.toString).sorted.toSeq)
  }

  test("theta band join equals naive BNLJ semantics") {
    val out = SparkEntry.queries("q_join_theta")(spark, sf).collect()
    val c = Tables(spark, sf, "customer"); val s2 = Tables(spark, sf, "supplier")
    val naive = c.join(s2, c("c_acctbal").between(
        s2("s_acctbal") - 50, s2("s_acctbal") + 50))
      .select(c("c_custkey"), s2("s_suppkey"), c("c_acctbal"), s2("s_acctbal"))
      .orderBy("c_custkey", "s_suppkey").collect()
    assert(out.map(_.toString).toSeq == naive.map(_.toString).toSeq)
  }
}
