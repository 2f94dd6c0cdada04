package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contracts for the LLM-pipeline block that the DuckDB oracle can't
  * express (approximation bounds) plus plan-shape pins for the designs
  * that must survive 100 TB. */
class LlmOpsSpec extends AnyFunSuite {
  import TestSpark._

  test("q_approx_distinct is within 5% of exact per event_type") {
    val approx = SparkEntry.queries("q_approx_distinct")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables(spark, sf, "events")
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, ex) =>
      val ap = approx(k)
      assert(math.abs(ap - ex).toDouble / ex < 0.05,
        s"$k: approx=$ap exact=$ex relerr=${math.abs(ap - ex).toDouble / ex}")
    }
  }

  test("q_heavy_hitters_cms: estimates never undercount, collisions bounded") {
    val rows = SparkEntry.queries("q_heavy_hitters_cms")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty, "fixture word soup must have phi-frequent tokens")
    val totalTokens = rows.map(_._2).sum // lower bound on N, enough here
    rows.foreach { case (tok, exact, est) =>
      assert(est >= exact, s"CMS undercounted $tok: est=$est exact=$exact")
      // depth-4 min over 2048-wide rows: overcount ~ N/width per
      // colliding row; 4x slack keeps this deterministic-stable
      assert(est - exact <= 4L * totalTokens / 2048 + 1,
        s"CMS overcount too large for $tok: est=$est exact=$exact")
    }
  }

  test("q_heavy_hitters_mg: never overcounts, bounded undercount, full presence") {
    val rows = SparkEntry.queries("q_heavy_hitters_mg")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // N from the exact token explode (the bound is in terms of ALL tokens)
    val n = Tables(spark, sf, "documents")
      .select(explode(split(lower(col("text")), " ")).as("t"))
      .filter(col("t") =!= "").count()
    rows.foreach { case (tok, exact, est) =>
      assert(est <= exact, s"MG overcounted $tok: est=$est exact=$exact")
      assert(exact - est <= n / 129 + 1,
        s"MG undercount beyond N/(k+1) for $tok: est=$est exact=$exact n=$n")
      // phi=1% > 1/129 of N, so presence is GUARANTEED, not probabilistic
      assert(est > 0, s"phi-frequent token $tok absent from the summary")
    }
  }

  test("q_dedup_exact keeps one row per normalized digest") {
    val deduped = SparkEntry.queries("q_dedup_exact")(spark, sf)
    val digests = deduped.select("digest").collect().map(_.getString(0))
    assert(digests.distinct.length == digests.length)
    // idempotence: total copies across survivors == corpus size
    val copies = deduped.agg(sum(col("n_copies"))).collect()(0).getLong(0)
    assert(copies == Tables(spark, sf, "documents").count())
  }

  test("q_similarity_cosine broadcasts the probe (no corpus shuffle)") {
    val plan = SparkEntry.queries("q_similarity_cosine")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"expected broadcast probe in plan:\n$plan")
    assert(SparkEntry.queries("q_similarity_cosine")(spark, sf)
      .collect().head.getLong(0) == 0L) // self-similarity ranks first
  }

  test("CosineSim codegen matches interpreted eval and the HOF formula") {
    import org.apache.spark.sql.functions._
    val emb = Tables(spark, sf, "embeddings").limit(50)
    val hofDot = aggregate(zip_with(col("embedding"), col("embedding"),
      (x, y) => x.cast("double") * y.cast("double")), lit(0.0),
      (acc, x) => acc + x)
    val rows = emb.select(
      graft.functions.CosineSim(spark, col("embedding"), col("embedding"))
        .as("native"),
      (hofDot / (sqrt(hofDot) * sqrt(hofDot))).as("hof")).collect()
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-12) // self-cosine == 1
      assert(r.getDouble(0) == r.getDouble(1),
        "native and HOF disagree bitwise")
    }
    // registered in SQL too
    graft.functions.GraftExtensions.register(spark)
    val viaSql = spark.sql(
      s"SELECT cosine_sim(embedding, embedding) FROM parquet.`$sf/embeddings.parquet` LIMIT 5")
      .collect()
    assert(viaSql.forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-12))
  }

  test("GraftExtensions injects cosine_sim + graft_h60 at session build") {
    // A new session's registry holds the builtins plus what
    // spark.sql.extensions injects; GraftExtensions.register has never
    // run on it, so graft_h60's presence proves the injection.
    val spark = TestSpark.spark.newSession()
    assert(spark.sessionState.functionRegistry
      .functionExists(graft.functions.GraftExtensions.h60Ident),
      "graft_h60 missing — spark.sql.extensions did not inject")
    assert(spark.sessionState.functionRegistry.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier("cosine_sim")),
      "cosine_sim missing — spark.sql.extensions did not inject")
    // value matches the engine's portable 60-bit hash derivation
    val got = spark.sql("SELECT graft_h60('abc') AS h").collect()(0).getLong(0)
    val md = java.security.MessageDigest.getInstance("MD5")
    val expected = java.lang.Long.parseLong(
      md.digest("abc".getBytes("UTF-8")).map("%02x".format(_)).mkString
        .substring(0, 15), 16)
    assert(got == expected, s"graft_h60('abc') = $got, expected $expected")
    val e = intercept[Exception] {
      spark.sql("SELECT graft_h60('a', 'b')").collect()
    }
    assert(e.getMessage.contains("1 argument"))
    // Round-4 natives resolve from plain SQL too — injection, no register.
    val sig = spark.sql(
      "SELECT sign_lsh_sig(array(CAST(1.0 AS FLOAT)), " +
        "array(array(CAST(1.0 AS DOUBLE))))").collect()(0).getLong(0)
    assert(sig == 1L, s"sign_lsh_sig positive-dot bit 0 expected, got $sig")
    val cells = spark.sql(
      "SELECT ivf_top_cells(array(CAST(1.0 AS FLOAT)), " +
        "array(array(CAST(-1.0 AS DOUBLE)), array(CAST(1.0 AS DOUBLE))), 2)")
      .collect()(0).getSeq[Int](0)
    assert(cells == Seq(1, 0), s"ivf_top_cells ordering wrong: $cells")
    val sh = spark.sql(
      "SELECT shingle_hash60('a b c', 3, true)").collect()(0).getSeq[Long](0)
    val md2 = java.security.MessageDigest.getInstance("MD5")
    val exp = java.lang.Long.parseLong(
      md2.digest("a b c".getBytes("UTF-8")).map("%02x".format(_)).mkString
        .substring(0, 15), 16)
    assert(sh == Seq(exp), s"shingle_hash60('a b c') = $sh, expected $exp")
  }

  test("CosineSim guards: zero-norm -> null (not NaN), bad arity -> error") {
    import spark.implicits._
    graft.functions.GraftExtensions.register(spark)
    val df = Seq(
      (Array(0.0f, 0.0f), Array(1.0f, 2.0f)),   // zero-norm left
      (Array(1.0f, 2.0f), Array(1.0f, 2.0f))).toDF("a", "b")
    df.createOrReplaceTempView("cs_guard")
    val rows = spark.sql(
      "SELECT cosine_sim(a, b) AS c FROM cs_guard").collect()
    assert(rows(0).isNullAt(0), "zero-norm must yield null, not NaN")
    assert(math.abs(rows(1).getDouble(0) - 1.0) < 1e-12)
    val e = intercept[Exception] {
      spark.sql("SELECT cosine_sim(a) FROM cs_guard").collect()
    }
    assert(e.getMessage.contains("2 arguments"),
      s"expected arity error, got: ${e.getMessage}")
  }

  test("DotProduct kernel: positive self-dot, composed cosine == fused CosineSim bitwise") {
    import org.apache.spark.sql.functions._
    val emb = Tables(spark, sf, "embeddings").limit(50)
    val a = col("embedding")
    val dp = graft.functions.DotProduct(spark, a, a)
    val rows = emb.select(
      dp.as("selfdot"),
      (dp / (sqrt(dp) * sqrt(dp))).as("cos_composed"),
      graft.functions.CosineSim(spark, a, a).as("cos_native")).collect()
    rows.foreach { r =>
      assert(r.getDouble(0) > 0, "self-dot must be positive")
      assert(r.getDouble(1) == r.getDouble(2),
        "dot/norms composition diverges bitwise from fused CosineSim")
    }
    // injected by GraftExtensions: SQL resolves without manual register
    val viaSql = spark.sql(
      s"SELECT dot_product(embedding, embedding) FROM parquet.`$sf/embeddings.parquet` LIMIT 3")
      .collect()
    assert(viaSql.forall(_.getDouble(0) > 0))
  }

  test("q_dedup_embedding refuses to run without the fixture-only quadratic opt-in") {
    // production sessions (no spark.graft.allowQuadratic) must get a loud
    // error pointing at the LSH scale path, never the O(n^2) plan
    spark.conf.unset("spark.graft.allowQuadratic")
    try {
      val e = intercept[IllegalArgumentException] {
        SparkEntry.queries("q_dedup_embedding")(spark, sf)
      }
      assert(e.getMessage.contains("q_dedup_embedding_lsh"))
    } finally spark.conf.set("spark.graft.allowQuadratic", "true")
  }

  test("q_dedup_embedding: broadcast self-join + argmax agg, sane NN output") {
    val df = SparkEntry.queries("q_dedup_embedding")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"corpus copy must broadcast, not shuffle:\n$plan")
    assert(!plan.contains("CartesianProduct"))
    // what matters: a PARTIAL phase before the exchange (map-side combine
    // => O(n) shuffle rows) and a hash-based aggregate (no n^2-row sort)
    assert(plan.contains("partial_max"),
      s"argmax must be a two-phase aggregate (map-side combined):\n$plan")
    assert(plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"argmax must be hash-based, not a SortAggregate over n^2 rows:\n$plan")
    val rows = df.collect()
    assert(rows.length == Tables(spark, sf, "embeddings").count())
    rows.foreach { r =>
      assert(r.getLong(0) != r.getLong(1), "self must be excluded")
      val c = r.getDouble(2)
      assert(c >= -1.000001 && c <= 1.000001, s"cosine out of range: $c")
    }
  }

  test("q_dedup_embedding NN agrees with q_knn_pergroup rank-2 (after self)") {
    val knn = SparkEntry.queries("q_knn_pergroup")(spark, sf).collect()
      .groupBy(_.getLong(0))                       // probe_id
      .view.mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSeq)
      .toMap
    val nn = SparkEntry.queries("q_dedup_embedding")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    (0L to 4L).foreach { p =>
      val expected = knn(p)(1) // rank 1 is self (cos 1.0), rank 2 is the NN
      assert(nn(p) == expected,
        s"probe $p: embedding-NN ${nn(p)} != knn rank-2 $expected")
    }
  }

  test("q_dedup_embedding argmax survives 64-bit vec ids (round-12 sf1 catch)") {
    // The sf1 correctness leg plants replica ids at 10^10 and caught the
    // former 33-bit packed argmax wrapping there: nn_id came back mod
    // 2^33 and the cosine lost exactly 1e-6 to the sign borrow. Pin the
    // fixed contract on a corpus whose ids straddle 2^33: full-width
    // nn_id, exact 1.0 cosine for identical twins.
    val dir = java.nio.file.Files.createTempDirectory("emb64-fixture")
    dir.toFile.deleteOnExit()
    val big = 10000000000L // > 2^33 = 8.59e9, the sf1 replica offset
    import spark.implicits._
    val v1 = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    val v2 = Seq(0.0f, 1.0f, 0.0f, 0.0f)
    Seq((5L, v1, 0), (big + 5L, v1, 0), (7L, v2, 1), (big + 7L, v2, 1))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("q_dedup_embedding")(spark, dir.toString)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getBoolean(3)))).toMap
    assert(out(5L) == ((big + 5L, 1.0, true)),
      s"vec 5 must pair with its 64-bit twin exactly: ${out(5L)}")
    assert(out(big + 5L) == ((5L, 1.0, true)))
    assert(out(7L) == ((big + 7L, 1.0, true)))
    assert(out(big + 7L) == ((7L, 1.0, true)))
  }

  test("max_cos_min_id: lexicographic argmax, null skipping, hash-agg plan") {
    import graft.functions.MaxCosMinId
    import spark.implicits._
    val big = (1L << 33) + 3L
    val df = Seq[(Int, Option[Long], Option[Long])](
      // group 1: cos tie at 10 -> min id wins, at full 64-bit width
      (1, Some(10L), Some(big + 4L)), (1, Some(10L), Some(big)),
      (1, Some(9L), Some(1L)),
      // group 2: half-null rows are skipped like built-in max
      (2, None, Some(5L)), (2, Some(3L), None), (2, Some(2L), Some(1L << 40)),
      // group 3: all rows null -> null struct
      (3, None, None))
      .toDF("g", "c", "i")
    val agg = df.groupBy("g")
      .agg(MaxCosMinId(spark, col("c"), col("i")).as("best"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"two flat long buffers must stay hash-aggregable:\n$plan")
    assert(plan.contains("partial_max_cos_min_id"),
      s"must map-side combine:\n$plan")
    val rows = agg.selectExpr("g", "best.cos", "best.id").collect()
      .map(r => r.getInt(0) ->
        ((Option(r.get(1)).map(_.asInstanceOf[Long]),
          Option(r.get(2)).map(_.asInstanceOf[Long])))).toMap
    assert(rows(1) == ((Some(10L), Some(big))))
    assert(rows(2) == ((Some(2L), Some(1L << 40))))
    assert(rows(3) == ((None, None)))
    // SQL front door resolves it too (GraftExtensions injection)
    df.createOrReplaceTempView("mcmi_t")
    val viaSql = spark.sql(
      "SELECT max_cos_min_id(c, i).id FROM mcmi_t WHERE g = 1").collect()
    assert(viaSql.head.getLong(0) == big)
  }

  test("q_knn_pergroup returns exactly k per probe, self first") {
    val rows = SparkEntry.queries("q_knn_pergroup")(spark, sf).collect()
    val byProbe = rows.groupBy(_.getLong(0))
    assert(byProbe.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byProbe.foreach { case (p, rs) =>
      assert(rs.length == 5, s"probe $p: ${rs.length} rows")
      assert(rs.head.getLong(1) == p, s"probe $p: self not nearest")
    }
  }

  test("q_embedding_project: 8 dims per vector, linear (scaled input => scaled output), matrix broadcast") {
    val df = SparkEntry.queries("q_embedding_project")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val byVec = rows.groupBy(_.getLong(0))
    byVec.foreach { case (v, rs) =>
      assert(rs.length == 8, s"vec $v: ${rs.length} dims")
    }
    // identical duplicate embeddings project identically (pure function
    // of the vector): re-run must be bit-identical
    val again = SparkEntry.queries("q_embedding_project")(spark, sf)
      .collect()
    assert(rows.map(_.toString).sorted.toSeq ==
      again.map(_.toString).sorted.toSeq)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"512-row projection matrix must broadcast:\n$plan")
  }

  test("q_perplexity_bigram: adjacency, positivity, unigram consistency") {
    val rows = SparkEntry.queries("q_perplexity_bigram")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(rows.nonEmpty)
    // cross-operator exactness: a doc's bigram count is its token count
    // minus one (both operators tokenize identically)
    val nTok = SparkEntry.queries("q_unigram_logprob")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    nTok.filter(_._2 >= 2).foreach { case (doc, n) =>
      assert(rows(doc)._1 == n - 1,
        s"doc $doc: ${rows(doc)._1} bigrams from $n tokens")
    }
    rows.values.foreach { case (n, total, avg) =>
      // p(w2|w1) <= 1 by construction, so every nll term is nonnegative
      assert(n > 0 && total >= 0.0 && avg >= 0.0)
      // the 6dp-rounded average tracks total/n to rounding tolerance
      assert(math.abs(avg - total / n) <= 1e-5 + total * 1e-9,
        s"avg $avg vs total/n ${total / n}")
    }
    // deterministic: the model and the scores are pure corpus functions
    val again = SparkEntry.queries("q_perplexity_bigram")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(again == SparkEntry.queries("q_perplexity_bigram")(spark, sf)
      .collect().map(_.toString).toSeq)
  }

  test("q_pmi_collocations: support floor, PMI bound, determinism") {
    val rows = SparkEntry.queries("q_pmi_collocations")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    // total corpus tokens, via the already-proven unigram operator
    val n = SparkEntry.queries("q_unigram_logprob")(spark, sf)
      .collect().map(_.getLong(1)).sum
    rows.foreach { r =>
      val (n2, pmi) = (r.getLong(2), r.getDouble(3))
      assert(n2 >= 5, s"support floor violated: $n2")
      // pmi = ln(n2 N / (c1 c2)) with c1, c2 >= n2, so pmi <= ln(N/n2)
      assert(pmi <= math.log(n.toDouble / n2) + 1e-6,
        s"pmi $pmi above the ln(N/n2) ceiling for n2=$n2")
    }
    val again = SparkEntry.queries("q_pmi_collocations")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(rows.map(_.toString).toSeq == again)
  }

  test("q_dedup_pipeline: composes exact + near-dup stages consistently") {
    val rows = SparkEntry.queries("q_dedup_pipeline")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        r.getLong(3), r.getBoolean(4)))
    val nDocs = Tables(spark, sf, "documents").count()
    assert(rows.length == nDocs, "pipeline verdict must cover every doc")
    // stage-1 agreement: exact_canonical == q_dedup_exact's keeper set
    val keepers = SparkEntry.queries("q_dedup_exact")(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rows.filter(_._3).map(_._1).toSet == keepers,
      "exact-canonical flags disagree with q_dedup_exact")
    rows.filterNot(_._3).foreach { case (id, _, _, np, keep) =>
      assert(np == 0 && !keep,
        s"doc $id: exact-duplicate must never reach the near-dup stage")
    }
    // stage-3 rule: keep == canonical with no smaller-id jaccard partner
    val canon = rows.filter(_._3)
    assert(canon.forall(_._5 == true) ||
      canon.exists(r => !r._5 && r._4 > 0),
      "a canonical is dropped only for a near-dup partner")
    canon.filter(!_._5).foreach { case (id, _, _, np, _) =>
      assert(np > 0, s"doc $id dropped with no recorded partner")
    }
    // ordering contract: near-dup candidate volume after exact dedup is
    // bounded by the q_dedup_ngram_jaccard pair list on the raw corpus
    val rawPairs = SparkEntry.queries("q_dedup_ngram_jaccard")(spark, sf)
      .count()
    val canonPairs = canon.map(_._4).sum / 2
    assert(canonPairs <= rawPairs,
      s"canonical-corpus pairs ($canonPairs) exceed raw-corpus ($rawPairs)")
  }

  test("q_bpe_tokenize: merge-order determinism, piece-count invariants") {
    import graft.queries.LlmOps
    // two training runs must produce the SAME ordered merge list (exact
    // integer pair counts, pair-string tie-break — nothing float, nothing
    // partition-order dependent)
    val m1 = LlmOps.trainBpeMerges(spark, sf)
    val m2 = LlmOps.trainBpeMerges(spark, sf)
    assert(m1 == m2, "two BPE training runs diverged")
    assert(m1.nonEmpty && m1.size == m1.distinct.size,
      s"merges must be non-empty and never repeat: $m1")
    // every merge is two symbols; later merges may build on earlier ones
    m1.foreach(p => assert(p.split("  ").length == 2, s"malformed pair: $p"))

    val rows = SparkEntry.queries("q_bpe_tokenize")(spark, sf).collect()
    assert(rows.nonEmpty)
    // BPE can only merge within words: whitespace tokens <= bpe pieces
    // per doc, never inverted
    rows.foreach { r =>
      assert(r.getLong(1) <= r.getLong(2),
        s"doc ${r.getLong(0)}: ws tokens ${r.getLong(1)} > " +
          s"bpe pieces ${r.getLong(2)}")
    }
    // and the merges actually fired: total pieces strictly below the
    // zero-merge (per-character) baseline
    import org.apache.spark.sql.functions._
    val charBaseline = graft.Tables(spark, sf, "documents")
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
      .agg(sum(length(col("word")))).collect()(0).getLong(0)
    val totalBpe = rows.map(_.getLong(2)).sum
    assert(totalBpe < charBaseline,
      s"no merge reduced the corpus: $totalBpe vs char baseline $charBaseline")
    // determinism of the full operator
    val again = SparkEntry.queries("q_bpe_tokenize")(spark, sf).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }
}
