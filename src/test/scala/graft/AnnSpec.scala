package graft

import graft.queries.AnnOps
import org.scalatest.funsuite.AnyFunSuite

/** Contracts for the approximate dedup/ANN family that the oracle can't
  * express. */
class AnnSpec extends AnyFunSuite {
  import TestSpark._

  test("q_ann_ivf with nprobe = numCells degrades to exact brute force") {
    val exhaustive = AnnOps.ivfKnn(spark, sf, nprobe = AnnOps.numCells)
      .select("probe_id", "vec_id", "cos_sim")
    val brute = SparkEntry.queries("q_knn_pergroup")(spark, sf)
    assert(exhaustive.collect().map(_.toString).toSeq ==
      brute.collect().map(_.toString).toSeq)
  }

  test("q_ann_ivf_trained: nprobe = numCells still equals brute force; training deterministic") {
    // the exactness invariant holds for ANY centroids — including trained
    val exhaustive = AnnOps.ivfKnnTrained(spark, sf,
      nprobe = AnnOps.numCells)
      .select("probe_id", "vec_id", "cos_sim")
    val brute = SparkEntry.queries("q_knn_pergroup")(spark, sf)
    assert(exhaustive.collect().map(_.toString).toSeq ==
      brute.collect().map(_.toString).toSeq)
    // training is deterministic (6dp-rounded means, fixed seeds)
    val c1 = AnnOps.trainCentroids(spark, sf, 2)
    val c2 = AnnOps.trainCentroids(spark, sf, 2)
    assert(c1 == c2, "two training runs diverged")
    // and it actually moved the centroids off the seeds
    val seeds = AnnOps.trainCentroids(spark, sf, 0)
    assert(c1 != seeds, "training left every centroid at its seed")
  }

  /** The sf0.001 documents unioned with a copy whose ids are offset, so
    * every exact-dup class has two members and the dedup family takes
    * its class fan-back branch; with the driver-side shingle sets and
    * texts of every doc, for ground truth computed independently. */
  private lazy val replicated = {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val off = 10000000000L
    val fix = java.nio.file.Files.createTempDirectory("graft-mhfan").toString
    docs.unionByName(docs.withColumn("doc_id", col("doc_id") + off))
      .coalesce(1).write.parquet(s"$fix/documents.parquet")
    val rows = docs.select(col("doc_id"), col("text"),
        graft.functions.ShingleHash60(spark, col("text"), 3,
          distinct = true).as("sh")).collect()
    val base = rows.map(r =>
      r.getLong(0) -> (r.getString(1), r.getSeq[Long](2).toSet)).toMap
    val all = base ++ base.map { case (k, v) => (k + off, v) }
    (fix, all.map { case (k, v) => k -> v._2 }, all.map { case (k, v) =>
      k -> v._1 }, all.keys.toSeq.sorted)
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** (d1, d2, inter, 6-dp jaccard) of every pair d1 < d2 whose shingle
    * sets intersect, computed on the driver. */
  private lazy val replicatedPairs: Seq[(Long, Long, Long, Double)] = {
    val (_, sets, _, ids) = replicated
    for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = sets(ids(i)); b = sets(ids(j))
      inter = (a & b).size if inter > 0
    } yield (ids(i), ids(j), inter.toLong,
      round6(inter.toDouble / (a.size + b.size - inter)))
  }

  test("q_dedup_minhash / q_dedup_cluster: class fan-back == raw semantics on a replicated corpus") {
    // Round-18 pin (r17 verdict #1 done-criterion): the minhash family
    // now sketches ONCE per exact-dup digest class and reconstructs the
    // raw pair list / per-doc labels algebraically. On a corpus where
    // every doc has a byte-identical replica, the outputs must equal
    // the RAW semantics computed independently: exact all-pairs jaccard
    // >= 0.8 over the full replicated doc set (the operator's own
    // oracle semantics — banding recall on the fixture is exact, which
    // the standing sf gates already pin) and min-label closure over
    // those pairs.
    val (fix, _, _, ids) = replicated
    val expPairs = replicatedPairs.filter(_._4 >= 0.8).toSet
    val gotPairs = SparkEntry.queries("q_dedup_minhash")(spark, fix)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(expPairs.exists(_._4 < 1.0),
      "fixture self-check: needs at least one genuine cross-class pair")
    assert(gotPairs == expPairs,
      s"pair mismatch: missing=${(expPairs -- gotPairs).take(3)} " +
        s"extra=${(gotPairs -- expPairs).take(3)}")
    // min-label closure over the expected pairs, driver-side union-find
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    expPairs.foreach { case (a, b, _, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val lab = ids.map(i => i -> find(i)).toMap
    val size = lab.values.groupBy(identity).map { case (k, v) =>
      k -> v.size.toLong }
    val expCluster = ids.map(i =>
      (i, lab(i), size(lab(i)), i == lab(i))).toSet
    val gotCluster = SparkEntry.queries("q_dedup_cluster")(spark, fix)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    assert(gotCluster == expCluster,
      s"cluster mismatch: missing=${(expCluster -- gotCluster).take(3)} " +
        s"extra=${(gotCluster -- expCluster).take(3)}")
  }

  test("q_dedup_ngram_jaccard / _containment / _fuzzy_edit: class fan-back == raw semantics on a replicated corpus") {
    // The set-similarity detectors also run once per exact-dup class
    // and fan the canonical rows back to every member (TextOps.classes).
    // Expected rows are the raw semantics over the replicated doc set,
    // from the driver's shingle sets and texts.
    val (fix, sets, texts, _) = replicated
    def got(key: String): Set[Seq[Any]] =
      try SparkEntry.queries(key)(spark, fix).collect().map(_.toSeq).toSet
      finally spark.catalog.clearCache()
    def check(key: String, exp: Set[Seq[Any]]): Unit = {
      val g = got(key)
      assert(g == exp, s"$key mismatch: missing=${(exp -- g).take(3)} " +
        s"extra=${(g -- exp).take(3)}")
    }
    val jac = replicatedPairs.filter(_._4 >= 0.8)
    assert(jac.exists(_._4 < 1.0),
      "fixture self-check: needs at least one genuine cross-class pair")
    check("q_dedup_ngram_jaccard",
      jac.map { case (a, b, i, j) => Seq[Any](a, b, i, j) }.toSet)
    check("q_dedup_containment", replicatedPairs.flatMap {
      case (a, b, i, _) => Seq(a -> b, b -> a).map { case (sub, sup) =>
        Seq[Any](sub, sup, i, round6(i.toDouble / sets(sub).size)) }
    }.filter(_(3).asInstanceOf[Double] >= 0.85).toSet)
    def lev(x: String, y: String): Long = {
      val (p, q) = (x.codePoints.toArray, y.codePoints.toArray)
      var prev = Array.range(0, q.length + 1)
      p.indices.foreach { i =>
        val cur = new Array[Int](q.length + 1)
        cur(0) = i + 1
        q.indices.foreach { j =>
          cur(j + 1) = math.min(math.min(cur(j), prev(j + 1)) + 1,
            prev(j) + (if (p(i) == q(j)) 0 else 1))
        }
        prev = cur
      }
      prev(q.length).toLong
    }
    check("q_dedup_fuzzy_edit", replicatedPairs.filter(_._4 >= 0.5).map {
      case (a, b, _, _) =>
        val (l1, l2) = (texts(a).codePointCount(0, texts(a).length).toLong,
          texts(b).codePointCount(0, texts(b).length).toLong)
        val e = lev(texts(a), texts(b))
        val rel = round6(e.toDouble / math.max(l1, l2))
        Seq[Any](a, b, l1, l2, e, rel, rel <= 0.2)
    }.toSet)
  }

  test("q_dedup_cluster propagation: planted 16-doc chain converges in O(log n) rounds") {
    // A chain is the worst case for plain neighbor-min propagation:
    // 0-1-2-...-15 needs 15 rounds (one per hop) plus the detection
    // round. The pointer-doubling shortcut (round-10 verdict #4) must
    // bring that to ~log2(16)=4 rounds + detection, while still landing
    // every node on the component-min label.
    import spark.implicits._
    val fwd = (0L until 15L).map(i => (i, i + 1))
    val edges = (fwd ++ fwd.map(_.swap)).toDF("src", "dst")
      .localCheckpoint(true)
    val (labels, rounds) = AnnOps.propagateMinLabels(edges)
    val out = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.size == 16)
    assert((0L to 15L).forall(out(_) == 0L),
      s"chain did not collapse to component-min: $out")
    assert(rounds <= 5,
      s"chain of 16 took $rounds rounds — pointer doubling regressed " +
        "(plain neighbor-min needs 16)")
  }

  test("q_ann_ivf prunes: visited candidates are a strict corpus subset") {
    // nprobe=2 of 8 cells must scan well under the full corpus per probe
    val perProbeScan = AnnOps.ivfKnn(spark, sf, nprobe = 2)
    val rows = perProbeScan.collect()
    assert(rows.nonEmpty)
    // every probe still returns its full k (cells are dense enough)
    val byProbe = rows.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(byProbe.values.forall(_ == 5), s"per-probe counts: $byProbe")
    // determinism: same result on a second run
    val again = AnnOps.ivfKnn(spark, sf, nprobe = 2).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("q_ann_ivf cell assignment is stateless (no pre-join Exchange 8x)") {
    // assignment must be a projection over driver-literal centroids — the
    // old crossJoin(8 centroids) + window row_number shuffled 8x the
    // corpus; the only exchanges allowed are the cell equi-join's own and
    // the final per-probe top-k window.
    val plan = AnnOps.ivfKnn(spark, sf, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 3,
      s"too many hash exchanges ($exchanges) — assignment shuffles?\n$plan")
  }

  test("q_ann_ivfpq: full probes + full shortlist degrades to exact brute force") {
    // holds for ANY codebooks: with every cell visited and nothing cut
    // by the ADC shortlist, the exact rerank IS brute force
    val books = AnnOps.trainPqBooks(spark, sf, 1)
    val full = AnnOps.ivfPqKnn(spark, sf, nprobe = AnnOps.numCells,
      shortlist = Int.MaxValue, books)
      .select("probe_id", "vec_id", "cos_sim")
    val brute = SparkEntry.queries("q_knn_pergroup")(spark, sf)
    assert(full.collect().map(_.toString).toSeq ==
      brute.collect().map(_.toString).toSeq)
  }

  test("q_ann_ivfpq: codebook training deterministic; codes well-formed") {
    val b1 = AnnOps.trainPqBooks(spark, sf, 1)
    val b2 = AnnOps.trainPqBooks(spark, sf, 1)
    assert(b1 == b2, "two PQ training runs diverged")
    val seeds = AnnOps.trainPqBooks(spark, sf, 0)
    assert(b1 != seeds, "training left every codeword at its seed")
    assert(b1.length == AnnOps.pqM && b1.forall(_.length == AnnOps.pqKs))
    // every corpus vector encodes to m codes in [0, ks)
    import org.apache.spark.sql.functions._
    val coarse = AnnOps.trainCentroids(spark, sf, 0)
    val codes = graft.Tables(spark, sf, "embeddings")
      .select(graft.functions.PqCodec.encode(spark, col("embedding"),
        lit(0), typedLit[Seq[Seq[Double]]](coarse),
        typedLit[Seq[Seq[Seq[Double]]]](b1)).as("codes"))
      .collect().map(_.getSeq[Int](0))
    assert(codes.nonEmpty)
    assert(codes.forall(c => c.length == AnnOps.pqM &&
      c.forall(k => k >= 0 && k < AnnOps.pqKs)))
  }

  test("PQ codec: geometry mismatches fail with descriptive errors, not AIOOBE") {
    // Round-8 ADVICE: a wrong-dimension vector / foreign cell id / alien
    // code must name the expected m x subDim geometry instead of
    // surfacing as an executor ArrayIndexOutOfBoundsException (or worse,
    // silently truncating an over-long vector).
    import org.apache.spark.sql.functions._
    val books = AnnOps.trainPqBooks(spark, sf, 0)
    val coarse = AnnOps.trainCentroids(spark, sf, 0)
    val dim = coarse.head.length
    def messages(t: Throwable): String = {
      val sb = new StringBuilder
      var cur: Throwable = t
      while (cur != null) { sb.append(cur.getMessage).append('\n'); cur = cur.getCause }
      sb.toString
    }
    def encodeOf(vec: Seq[Float], cell: Int): Unit = {
      import spark.implicits._
      Seq(vec).toDF("v")
        .select(graft.functions.PqCodec.encode(spark, col("v"), lit(cell),
          typedLit[Seq[Seq[Double]]](coarse),
          typedLit[Seq[Seq[Seq[Double]]]](books)))
        .collect(); ()
    }
    val short = intercept[Exception](encodeOf(Seq.fill(dim - 1)(0.1f), 0))
    assert(messages(short).contains("m*subDim"),
      s"short vector must name the geometry: ${messages(short).take(300)}")
    val over = intercept[Exception](encodeOf(Seq.fill(dim + 3)(0.1f), 0))
    assert(messages(over).contains("m*subDim"),
      "over-long vector must error, not silently truncate")
    val badCell = intercept[Exception](encodeOf(Seq.fill(dim)(0.1f), 9999))
    assert(messages(badCell).contains("out of range"),
      s"foreign cell id must be named: ${messages(badCell).take(300)}")
    // decode: wrong code count and out-of-range code
    def decodeOf(codes: Seq[Int]): Unit = {
      import spark.implicits._
      Seq(codes).toDF("c")
        .select(graft.functions.PqCodec.decode(spark, col("c"), lit(0),
          typedLit[Seq[Seq[Double]]](coarse),
          typedLit[Seq[Seq[Seq[Double]]]](books)))
        .collect(); ()
    }
    val fewCodes = intercept[Exception](decodeOf(Seq(0)))
    assert(messages(fewCodes).contains("subspaces"))
    val alienCode = intercept[Exception](
      decodeOf(Seq.fill(AnnOps.pqM)(AnnOps.pqKs + 7)))
    assert(messages(alienCode).contains("out of range"))
  }

  test("q_ann_ivfpq at shipped settings: deterministic, high shortlist recall") {
    // vs exact search over the SAME visited cells: any difference is the
    // ADC shortlist alone, so this isolates what PQ compression costs
    val pq = SparkEntry.queries("q_ann_ivfpq")(spark, sf).collect()
    val exact = AnnOps.ivfKnn(spark, sf, nprobe = 2).collect()
    def pairs(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (pairs(pq) & pairs(exact)).size.toDouble / exact.length
    assert(recall >= 0.9, s"shortlist recall $recall < 0.9 on the fixture")
    val again = SparkEntry.queries("q_ann_ivfpq")(spark, sf).collect()
    assert(pq.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("q_ann_ivfpq plan: PQ kernels present, no cartesian, bounded exchanges") {
    // the training collects run plans of their own, so inspect every
    // plan the build runs. Exchanges are counted per executed
    // plan tree (a finished AQE plan prints its initial plan too, and a
    // cached frame's plan reappears under every reader) and summed.
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object aqe extends AdaptiveSparkPlanHelper
    val plans = builtPlans("q_ann_ivfpq")
    val plan = plans.mkString("\n")
    assert(plan.contains("pq_encode") && plan.contains("pq_decode"),
      "index/ADC must run through the native PQ codec kernels")
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    val exchanges = plans.map(p => aqe.collect(p) {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }.size).sum
    assert(exchanges <= 5,
      s"too many hash exchanges ($exchanges) in:\n$plan")
  }

  test("q_ann_search_incremental: full probes + full shortlist equals exact drop-vs-corpus search") {
    // holds for ANY stored model: with every cell visited and nothing
    // cut by the ADC shortlist, the exact rerank IS brute force of the
    // drop probes against the stored corpus
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val full = AnnOps.ivfPqSearchStored(spark, sf,
      nprobe = AnnOps.numCells, shortlist = Int.MaxValue)
      .select("probe_id", "vec_id", "cos_sim").collect()
    val emb = graft.Tables(spark, sf, "embeddings")
    val probes = emb.filter(col("vec_id") % 10 === 3 && col("vec_id") < 50)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe"))
    val corpus = emb.filter(col("vec_id") % 10 =!= 3)
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    val brute = corpus.crossJoin(probes)
      .select(col("probe_id"), col("vec_id"),
        round(graft.functions.CosineSim(spark, col("embedding"),
          col("probe")), 6).as("cos_sim"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select("probe_id", "vec_id", "cos_sim")
      .orderBy(col("probe_id").asc, col("cos_sim").desc, col("vec_id").asc)
      .collect()
    assert(full.nonEmpty)
    assert(full.map(_.toString).toSeq == brute.map(_.toString).toSeq)
  }

  test("q_ann_search_incremental: stored model is read, never retrained") {
    // Warm the index, snapshot every persisted file's mtime, run the
    // search twice more: results identical, not one stored byte touched
    // — i.e. zero retraining and zero re-encoding on the query path.
    val r1 = SparkEntry.queries("q_ann_search_incremental")(spark, sf)
      .collect()
    assert(r1.nonEmpty)
    val tag = graft.queries.FixtureLayout.contentTag(sf, Seq("embeddings"))
    val base = new java.io.File(
      s"${System.getProperty("java.io.tmpdir")}/graft_annidx_$tag")
    def snapshot(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(base).map(f => f.getAbsolutePath -> f.lastModified()).toMap
    }
    val before = snapshot()
    assert(before.keys.exists(_.contains("/model/centroids")))
    assert(before.keys.exists(_.contains("/model/books")))
    assert(before.keys.exists(_.contains("/coded")))
    val r2 = SparkEntry.queries("q_ann_search_incremental")(spark, sf)
      .collect()
    assert(r2.map(_.toString).toSeq == r1.map(_.toString).toSeq,
      "stored-index search must be deterministic")
    assert(snapshot() == before,
      "a query run must not rewrite any stored index file")

    // plan shape: coded corpus served by the stored bucketed table, and
    // every raw embeddings scan in every plan the search runs carries a
    // %-10 drop/corpus filter
    try {
      val plan = builtPlans("q_ann_search_incremental").mkString("\n")
      assert(plan.contains("graft_annidx_"),
        s"stored coded table missing from the plan:\n$plan")
      val embScans = plan.linesIterator
        .filter(_.contains("embeddings.parquet")).toSeq
      assert(embScans.nonEmpty, "probe side must scan embeddings")
      embScans.foreach(l => assert(l.contains("% 10)"),
        s"embeddings scan without a drop/corpus filter (re-encoding?):\n$l"))
    } finally spark.sharedState.cacheManager.clearCache()
  }

  test("minhash candidates achieve full recall on planted near-dups") {
    val lsh = SparkEntry.queries("q_dedup_minhash")(spark, sf)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = SparkEntry.queries("q_dedup_ngram_jaccard")(spark, sf)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact,
      s"minhash missed ${exact -- lsh}, spurious ${lsh -- exact}")
  }

  test("shingle df-cap: capped candidate path returns identical pairs on the fixture") {
    val exact = SparkEntry.queries("q_dedup_ngram_jaccard")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    spark.conf.set("spark.graft.shingleDfCap", "25")
    try {
      val capped = SparkEntry.queries("q_dedup_ngram_jaccard")(spark, sf)
        .collect().map(_.toString).sorted.toSeq
      // same pairs AND same exact jaccard scores: the cap only trims
      // candidate generation; the verify uses full shingle sets
      assert(capped == exact,
        s"df-capped path diverged:\ncapped=$capped\nexact=$exact")
      assert(capped.nonEmpty, "fixture must contain planted near-dups")
    } finally spark.conf.unset("spark.graft.shingleDfCap")
  }

  test("q_dedup_containment: directional near-subset contract") {
    val cont = SparkEntry.queries("q_dedup_containment")(spark, sf).collect()
    assert(cont.nonEmpty, "fixture must yield containment pairs")
    assert(cont.forall(_.getAs[Double]("containment") >= 0.85))
    // every jaccard>=0.8 pair must surface in at least one direction:
    // containment w.r.t. the smaller shingle set is inter/min(n1,n2)
    // >= (0.8/1.8)*(n1+n2)/((n1+n2)/2) = 0.888 > the 0.85 threshold
    val dirSet = cont.map(r => (r.getLong(0), r.getLong(1))).toSet
    val jac = SparkEntry.queries("q_dedup_ngram_jaccard")(spark, sf)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    jac.foreach { case (a, b) =>
      assert(dirSet.contains((a, b)) || dirSet.contains((b, a)),
        s"jaccard pair ($a,$b) missing from containment output") }
    // family plan contract: candidates come from the shingle equi-join,
    // never an all-pairs product
    val plan = SparkEntry.queries("q_dedup_containment")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs shape in containment plan:\n$plan")
  }

  test("q_dedup_containment: df-capped path returns identical rows") {
    val exact = SparkEntry.queries("q_dedup_containment")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    spark.conf.set("spark.graft.shingleDfCap", "25")
    try {
      val capped = SparkEntry.queries("q_dedup_containment")(spark, sf)
        .collect().map(_.toString).sorted.toSeq
      assert(capped == exact,
        s"df-capped containment diverged:\ncapped=$capped\nexact=$exact")
    } finally spark.conf.unset("spark.graft.shingleDfCap")
  }

  test("q_dedup_fuzzy_edit: verified pairs, gate identity, jaccard recall") {
    val rows = SparkEntry.queries("q_dedup_fuzzy_edit")(spark, sf).collect()
    assert(rows.nonEmpty, "fixture near-dups must survive the 0.5 prefilter")
    rows.foreach { r =>
      val (len1, len2) = (r.getAs[Long]("len1"), r.getAs[Long]("len2"))
      val ed = r.getAs[Long]("edit_dist")
      val rel = r.getAs[Double]("rel_edit")
      // edit distance bounds: |len1-len2| <= lev <= max(len1,len2)
      assert(ed >= math.abs(len1 - len2) && ed <= math.max(len1, len2),
        s"impossible levenshtein: $r")
      assert(rel >= 0.0 && rel <= 1.0)
      assert(r.getAs[Boolean]("is_dup") == (rel <= 0.2),
        s"dup gate must cut on the displayed rel_edit: $r")
    }
    // recall: every jaccard>=0.8 pair clears the 0.5 candidate bar by
    // construction, so it must appear in the fuzzy verify output
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    SparkEntry.queries("q_dedup_ngram_jaccard")(spark, sf)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .foreach { p => assert(pairs.contains(p),
        s"jaccard pair $p missing from fuzzy-edit candidates") }
    // family plan contract: candidates come from the shingle equi-join —
    // the O(len^2) levenshtein never runs all-pairs
    val plan = SparkEntry.queries("q_dedup_fuzzy_edit")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs shape in fuzzy-edit plan:\n$plan")
  }

  test("q_dedup_fuzzy_edit: df-capped path returns identical rows") {
    val exact = SparkEntry.queries("q_dedup_fuzzy_edit")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    spark.conf.set("spark.graft.shingleDfCap", "25")
    try {
      val capped = SparkEntry.queries("q_dedup_fuzzy_edit")(spark, sf)
        .collect().map(_.toString).sorted.toSeq
      assert(capped == exact,
        s"df-capped fuzzy-edit diverged:\ncapped=$capped\nexact=$exact")
    } finally spark.conf.unset("spark.graft.shingleDfCap")
  }

  test("q_cluster_summary: per-cell top-3, doc conservation, determinism") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q_cluster_summary")(spark, sf).collect()
    assert(rows.nonEmpty)
    // rank structure: per cell, ranks are exactly 1..k for some k <= 3
    rows.groupBy(_.getLong(0)).foreach { case (cell, rs) =>
      assert(rs.map(_.getLong(2)).sorted.toSeq ==
        (1L to rs.length).toSeq && rs.length <= 3,
        s"cell $cell ranks: ${rs.map(_.getLong(2)).toSeq}")
      // n_docs is constant within the cell
      assert(rs.map(_.getLong(1)).distinct.length == 1)
    }
    // conservation: cell sizes sum to the live (nonzero-norm) corpus
    val live = Tables(spark, sf, "embeddings")
      .select(col("vec_id"),
        sqrt(graft.functions.DotProduct(spark, col("embedding"),
          col("embedding"))).as("nrm"))
      .filter(col("nrm") > 0).count()
    val sumDocs = rows.groupBy(_.getLong(0))
      .map { case (_, rs) => rs.head.getLong(1) }.sum
    assert(sumDocs == live,
      s"cell sizes sum to $sumDocs, live corpus is $live")
    // determinism: cell assignment + score cut are fully pinned
    val again = SparkEntry.queries("q_cluster_summary")(spark, sf).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("q_label_centroids: per-label audit bounds, conservation, determinism") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q_label_centroids")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, cn, mc, mn) = (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))
      assert(n > 0 && cn >= 0)
      assert(mc >= -1.0 && mc <= 1.0 && mn >= -1.0 && mn <= 1.0)
      assert(mn <= mc, s"label ${r.getLong(0)}: min $mn > mean $mc")
    }
    // labels partition the live corpus
    val live = Tables(spark, sf, "embeddings")
      .select(col("vec_id"),
        sqrt(graft.functions.DotProduct(spark, col("embedding"),
          col("embedding"))).as("nrm"))
      .filter(col("nrm") > 0).count()
    assert(rows.map(_.getLong(1)).sum == live)
    // the audit must show spread (min strictly below mean somewhere —
    // an all-equal column would mean the cosine never varied)
    assert(rows.exists(r => r.getDouble(4) < r.getDouble(3)))
    val again = SparkEntry.queries("q_label_centroids")(spark, sf).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("simhash finds the low-hamming planted near-dup pairs") {
    val pairs = SparkEntry.queries("q_dedup_simhash")(spark, sf).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getLong(2) <= 3))
  }

  test("sign-LSH banding loses nothing: equals brute-force Hamming ball") {
    // The pigeonhole argument (12 chunks of 4 bits => any pair within
    // Hamming 11 shares a chunk) means the banded candidate join must
    // yield EXACTLY the result a full n^2 Hamming scan yields. Build the
    // brute-force twin from the same signature expression and compare.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import graft.functions.DotProduct
    val lsh = SparkEntry.queries("q_dedup_embedding_lsh")(spark, sf)
    val sig = graft.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"),
        sqrt(DotProduct(spark, col("embedding"), col("embedding"))).as("nrm"),
        AnnOps.rpSig(spark, "embedding").as("bits"))
      .filter(col("nrm") > 0)
    val other = sig.select(col("vec_id").as("nid"),
      col("embedding").as("eb"), col("nrm").as("nb"), col("bits").as("ob"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cos_sim").desc, col("nid").asc)
    val brute = sig.crossJoin(other)
      .filter(col("vec_id") =!= col("nid") &&
        bit_count(col("bits").bitwiseXOR(col("ob"))) <= AnnOps.rpHamMax)
      .select(col("vec_id"), col("nid"),
        bit_count(col("bits").bitwiseXOR(col("ob"))).cast("long").as("hamming"),
        round(DotProduct(spark, col("embedding"), col("eb"))
          / (col("nrm") * col("nb")), 6).as("cos_sim"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("nid").as("nn_id"), col("hamming"),
        col("cos_sim"))
    val bruteFull = sig.select("vec_id").join(brute, Seq("vec_id"), "left")
      .select(col("vec_id"), col("nn_id"), col("hamming"), col("cos_sim"),
        coalesce(col("cos_sim") >= 0.4, lit(false)).as("is_near_dup"))
      .orderBy("vec_id")
    val a = lsh.collect().map(_.toString).toSeq
    val b = bruteFull.collect().map(_.toString).toSeq
    assert(a.nonEmpty && a.exists(!_.contains("null")),
      s"LSH output vacuous (no matched pair) at $sf")
    assert(a == b, s"banded != brute-force; first diff: ${
      a.zip(b).find { case (x, y) => x != y }}")
  }

  test("q_dedup_incremental equals full recompute restricted to the new drop") {
    // Identical bucketing on the stored and live sides means the
    // incremental candidate set IS the full candidate set restricted to
    // pairs touching the drop — so the outputs must match exactly.
    val full = SparkEntry.queries("q_dedup_minhash")(spark, sf).collect()
      .filter(r => r.getLong(0) % 10 == 3 || r.getLong(1) % 10 == 3)
      .map(_.toString).toSeq
    val inc = SparkEntry.queries("q_dedup_incremental")(spark, sf).collect()
      .map(_.toString).toSeq
    assert(inc == full, s"incremental != restricted full: $inc vs $full")
  }

  test("q_dedup_incremental: stored index is read, never rebuilt") {
    // Warm the index (idempotent), then inspect every plan the build
    // runs: the corpus side must come from the two bucketed index
    // tables, and every scan of the raw documents table must carry the
    // new-drop filter — i.e. the existing corpus is re-scanned zero times.
    SparkEntry.queries("q_dedup_incremental")(spark, sf).count()
    try {
      val plan = builtPlans("q_dedup_incremental").mkString("\n")
      assert("graft_mhidx_".r.findAllIn(plan).length >= 2,
        s"expected both stored index tables in the plan:\n$plan")
      val docScans = plan.linesIterator
        .filter(_.contains("documents.parquet")).toSeq
      assert(docScans.nonEmpty, "new side must scan documents")
      docScans.foreach(l =>
        assert(l.contains("% 10) = 3"),
          s"documents scan without the new-drop filter (corpus rebuilt?):\n$l"))
    } finally spark.sharedState.cacheManager.clearCache()
  }

  test("q_semdedup: cluster containment, canonical-minimum, threshold contract") {
    val rows = SparkEntry.queries("q_semdedup")(spark, sf).collect()
    val nLive = graft.Tables(spark, sf, "embeddings").count()
    assert(rows.length == nLive, "one verdict row per (nonzero) vector")
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    val cellOf = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      if (!r.isNullAt(2)) {
        val (vid, mate) = (r.getLong(0), r.getLong(2))
        // the best mate is a SMALLER id in the SAME cluster — the
        // candidate canonical this vector would defer to
        assert(mate < vid, s"mate $mate !< $vid")
        assert(cellOf(mate) == r.getLong(1),
          s"mate $mate of $vid crossed clusters")
        // threshold contract: flagged iff best cosine >= 0.4
        assert(r.getBoolean(4) == (r.getDouble(3) >= 0.4))
      } else assert(!r.getBoolean(4), "dup verdict without a mate")
    }
    // each cluster's minimum id has no smaller mate — never flagged
    val minPerCell = rows.groupBy(_.getLong(1))
      .map { case (_, rs) => rs.map(_.getLong(0)).min }.toSet
    rows.filter(r => minPerCell(r.getLong(0)))
      .foreach(r => assert(r.isNullAt(2) && !r.getBoolean(4)))
    // deterministic across runs (6dp-rounded argmaxes, derived buckets)
    val again = SparkEntry.queries("q_semdedup")(spark, sf).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("q_semdedup_pipeline: degenerates to q_semdedup on a dup-free corpus; replica-invariant kept set") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // fixture precondition for the degeneracy leg: every vector distinct
    val n = emb.count()
    assert(emb.select("embedding").distinct().count() == n,
      "sf0.001 embeddings carry exact duplicates — degeneracy leg void")
    val pipe = SparkEntry.queries("q_semdedup_pipeline")(spark, sf).collect()
    assert(pipe.length == n, "one verdict row per vector (incl. zero-norm)")
    // (1) dup-free degeneracy: the semdedup stage must be EXACTLY the
    // standalone operator — same cells, mates, cosines, verdicts.
    val sem = SparkEntry.queries("q_semdedup")(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    pipe.foreach { r =>
      assert(r.getBoolean(2), "dup-free corpus: every row exact-canonical")
      assert(r.getLong(1) == 1L && r.getLong(3) == r.getLong(0))
      sem.get(r.getLong(0)) match {
        case Some(sr) => // live vector: sem columns must agree
          assert(r.getLong(4) == sr.getLong(1), s"cell drifted: $r")
          assert(r.isNullAt(5) == sr.isNullAt(2)
            && (r.isNullAt(5) || r.getLong(5) == sr.getLong(2)))
          assert(r.getBoolean(7) == sr.getBoolean(4))
          assert(r.getBoolean(8) == !sr.getBoolean(4), s"keep rule: $r")
        case None => // zero-norm: unassigned, never a semdup, kept
          assert(r.isNullAt(4) && !r.getBoolean(7) && r.getBoolean(8))
      }
    }
    // (2) replica invariance — THE sf1-inflation counter-proof: adding a
    // byte-identical copy of every vector must change NOTHING about
    // which vectors are kept, because the semdedup stage runs on the
    // exact-deduped set (q_dedup_pipeline's 1.04x mechanism, embedding
    // side).
    val off = 10000000000L
    val fix = java.nio.file.Files.createTempDirectory("graft-sempipe")
      .toString
    emb.unionByName(emb.withColumn("vec_id", col("vec_id") + off))
      .coalesce(1).write.parquet(s"$fix/embeddings.parquet")
    val rep = SparkEntry.queries("q_semdedup_pipeline")(spark, fix)
      .collect()
    assert(rep.length == 2 * n)
    rep.foreach { r =>
      assert(r.getLong(1) == 2L, s"every group has exactly 2 copies: $r")
      if (r.getLong(0) >= off) { // replica: dropped by the exact stage
        assert(!r.getBoolean(2) && !r.getBoolean(8), s"replica kept: $r")
        assert(r.getLong(3) == r.getLong(0) - off,
          s"replica maps to its original: $r")
      }
    }
    def kept(rows: Array[org.apache.spark.sql.Row]) =
      rows.filter(_.getBoolean(8)).map(_.getLong(0)).toSet
    assert(kept(rep) == kept(pipe),
      "replication changed the kept canonical set")
  }

  test("q_knn_classify: split, votes, and prediction mechanics") {
    val rows = SparkEntry.queries("q_knn_classify")(spark, sf).collect()
    assert(rows.nonEmpty)
    // exactly the h60-mod-100 >= 90 slice is scored (≈10%), and no test
    // vector also serves as a neighbor: the split is disjoint by
    // construction, so no prediction can vote for itself
    val n = graft.Tables(spark, sf, "embeddings").count()
    assert(rows.length < n / 5, s"${rows.length} test rows of $n")
    rows.foreach { r =>
      if (!r.isNullAt(2)) {
        val votes = r.getLong(3)
        assert(votes >= 1 && votes <= 5, s"votes $votes out of top-5")
        assert(r.getBoolean(4) == (r.getInt(2) == r.getInt(1)))
      } else assert(!r.getBoolean(4))
    }
    // majority rule: a winning label must hold a plurality of <= 5
    // votes, so n_votes >= ceil(5 / #labels) can't be asserted per-row
    // without the full tally — but determinism can:
    val again = SparkEntry.queries("q_knn_classify")(spark, sf).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("q_knn_classify plan: candidate generation is the cell equi-join") {
    val plan = SparkEntry.queries("q_knn_classify")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs shape in plan:\n$plan")
  }

  test("q_semdedup plan: pair search joins on the cluster key only") {
    // the SemDeDup contract: candidate pairs come from a cell equi-join
    // (K independent within-cluster searches), never a corpus cross join
    val plan = SparkEntry.queries("q_semdedup")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs shape in plan:\n$plan")
    assert(plan.contains("cell"), s"cell key missing from plan:\n$plan")
  }

  // ── Index invalidation under in-place fixture regeneration ──────────
  // The round-9 event in miniature: the same fixture PATH starts serving
  // different bytes. The content tag must change and the persisted index
  // must be REBUILT from the new corpus — never silently reused. Proof:
  // results on the regenerated fixture equal results computed in a
  // pristine directory (same content, no index history).

  private def canonRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("in-place documents regeneration rebuilds the minhash index") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import graft.queries.FixtureLayout
    val fix = Files.createTempDirectory("graft-regen-docs").toString
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      Paths.get(s"$fix/documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val tag1 = FixtureLayout.contentTag(fix, Seq("documents"))
    // first touch builds the index for tag1; the caller frees what the
    // build cached (its caches read the same path the rewrite changes)
    try SparkEntry.queries("q_dedup_incremental")(spark, fix).count()
    finally spark.catalog.clearCache()
    // regenerate IN PLACE: drop a third of the corpus, same path
    val v2 = spark.read.parquet(s"$fix/documents.parquet")
      .filter(org.apache.spark.sql.functions.col("doc_id") % 3 =!= 0)
    val v2dir = Files.createTempDirectory("graft-regen-docs-v2").toString
    v2.coalesce(1).write.parquet(s"$v2dir/documents.parquet")
    new java.io.File(s"$fix/documents.parquet").delete()
    copyDir(s"$v2dir/documents.parquet", s"$fix/documents.parquet")
    val tag2 = FixtureLayout.contentTag(fix, Seq("documents"))
    assert(tag2 != tag1, "content tag did not change on regeneration")
    // pristine dir with identical v2 bytes — the no-history ground truth
    val pristine = Files.createTempDirectory("graft-regen-docs-p").toString
    copyDir(s"$v2dir/documents.parquet", s"$pristine/documents.parquet")
    val onRegen =
      canonRows(SparkEntry.queries("q_dedup_incremental")(spark, fix))
    val onPristine =
      canonRows(SparkEntry.queries("q_dedup_incremental")(spark, pristine))
    assert(onRegen == onPristine,
      "stale index silently reused after in-place regeneration")
  }

  test("in-place embeddings regeneration rebuilds the stored ANN model") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import graft.queries.FixtureLayout
    val fix = Files.createTempDirectory("graft-regen-emb").toString
    Files.copy(Paths.get(s"$sf/embeddings.parquet"),
      Paths.get(s"$fix/embeddings.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val tag1 = FixtureLayout.contentTag(fix, Seq("embeddings"))
    SparkEntry.queries("q_ann_search_incremental")(spark, fix).count()
    // regenerate in place: drop a third of the vectors (probes survive:
    // the drop filter vec_id % 10 = 3 is disjoint from % 3 = 0 for ids
    // like 3, 13, 23, 43 — enough probes remain)
    val v2 = spark.read.parquet(s"$fix/embeddings.parquet")
      .filter(org.apache.spark.sql.functions.col("vec_id") % 3 =!= 0)
    val v2dir = Files.createTempDirectory("graft-regen-emb-v2").toString
    v2.coalesce(1).write.parquet(s"$v2dir/embeddings.parquet")
    new java.io.File(s"$fix/embeddings.parquet").delete()
    copyDir(s"$v2dir/embeddings.parquet", s"$fix/embeddings.parquet")
    val tag2 = FixtureLayout.contentTag(fix, Seq("embeddings"))
    assert(tag2 != tag1, "content tag did not change on regeneration")
    val pristine = Files.createTempDirectory("graft-regen-emb-p").toString
    copyDir(s"$v2dir/embeddings.parquet", s"$pristine/embeddings.parquet")
    val onRegen =
      canonRows(SparkEntry.queries("q_ann_search_incremental")(spark, fix))
    val onPristine = canonRows(
      SparkEntry.queries("q_ann_search_incremental")(spark, pristine))
    assert(onRegen == onPristine,
      "stale ANN model silently reused after in-place regeneration")
  }

  private def copyDir(src: String, dst: String): Unit = {
    val s = new java.io.File(src); val d = new java.io.File(dst)
    d.mkdirs()
    s.listFiles().foreach { f =>
      if (f.isDirectory) copyDir(f.getAbsolutePath, s"$dst/${f.getName}")
      else java.nio.file.Files.copy(f.toPath,
        new java.io.File(d, f.getName).toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }
}
