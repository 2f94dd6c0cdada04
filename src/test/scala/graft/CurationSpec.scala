package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the round-6 curation operators (CurationOps). Value
  * parity is the DuckDB gate; these pin the semantic contracts and the
  * 100-TB plan shapes (broadcast sides, exchange counts).
  */
class CurationSpec extends AnyFunSuite {
  import TestSpark._

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("q_decontaminate: probe docs excluded, flag == overlap>0, probe side broadcast") {
    val rows = run("q_decontaminate").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(r.fieldIndex("doc_id"))
      assert(id % 20 != 0, s"probe doc $id leaked into corpus output")
      val n = r.getLong(r.fieldIndex("n_overlap"))
      val flag = r.getBoolean(r.fieldIndex("contaminated"))
      assert(flag == (n > 0), s"doc $id: contaminated=$flag n_overlap=$n")
    }
    val plan = run("q_decontaminate").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"probe shingle set must broadcast, not shuffle the corpus:\n$plan")
  }

  test("q_decontaminate: an exact copy of a probe doc is flagged") {
    // The fixture plants exact duplicates (q_dedup_exact's subject). If
    // any duplicate group spans the probe/corpus split, its corpus
    // members MUST be contaminated (identical text ⇒ identical 5-grams,
    // when the doc has ≥5 tokens).
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), md5(lower(trim(col("text")))).as("h"),
        size(split(col("text"), " ")).as("n_tok"))
    val probeH = docs.filter(col("doc_id") % 20 === 0 && col("n_tok") >= 5)
      .select("h").distinct()
    val mustFlag = docs.filter(col("doc_id") % 20 =!= 0)
      .join(probeH, "h").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    if (mustFlag.nonEmpty) {
      val flagged = run("q_decontaminate")
        .filter(col("contaminated")).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(mustFlag.subsetOf(flagged),
        s"exact probe copies not flagged: ${mustFlag -- flagged}")
    }
  }

  test("q_pii_redact: every synthesized email/phone found and scrubbed, name preserved") {
    val rows = run("q_pii_redact").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_emails")) == 1L)
      assert(r.getLong(r.fieldIndex("n_phones")) == 1L)
      val red = r.getString(r.fieldIndex("redacted"))
      assert(red.contains("<EMAIL>") && red.contains("<PHONE>"),
        s"not redacted: $red")
      assert(!red.contains("@mail.example") && !red.matches(".*555-[0-9]{4}.*"),
        s"PII survived redaction: $red")
      assert(red.contains(" ref Customer#"),
        s"non-PII text must survive: $red")
    }
  }

  test("q_pii_redact: map-side only (no hash exchange before the presentation sort)") {
    val plan = run("q_pii_redact").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"regex scrub must stay a stateless projection:\n$plan")
  }

  test("q_repetition_ratio: ratios bounded and consistent with counts") {
    val rows = run("q_repetition_ratio").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nTok = r.getLong(r.fieldIndex("n_tok"))
      val nDist = r.getLong(r.fieldIndex("n_dist_tok"))
      val n2 = r.getLong(r.fieldIndex("n_2gram"))
      val nDist2 = r.getLong(r.fieldIndex("n_dist_2gram"))
      assert(nDist >= 1 && nDist <= nTok)
      assert(nDist2 <= math.max(n2, 1))
      val repTok = r.getDouble(r.fieldIndex("rep_token"))
      val rep2 = r.getDouble(r.fieldIndex("rep_2gram"))
      assert(repTok >= 0.0 && repTok < 1.0)
      assert(rep2 >= 0.0 && rep2 < 1.0)
      // 2-gram repetition can't exceed token repetition's ceiling:
      // all-distinct tokens ⇒ all-distinct 2-grams
      if (nDist == nTok) assert(nDist2 == n2)
    }
  }

  test("q_domain_mix: rates in (0,1], kept within source, heavy target ⇒ higher rate") {
    val rows = run("q_domain_mix").collect()
    assert(rows.length > 1)
    var heavyMin = 2.0; var lightMax = -1.0
    rows.foreach { r =>
      val rate = r.getDouble(r.fieldIndex("rate"))
      val w = r.getDouble(r.fieldIndex("target_w"))
      val nSrc = r.getLong(r.fieldIndex("n_source"))
      val nKept = r.getLong(r.fieldIndex("n_kept"))
      assert(rate > 0.0 && rate <= 1.0)
      assert(nKept <= nSrc)
      if (w == 0.08) heavyMin = math.min(heavyMin, rate)
      else lightMax = math.max(lightMax, rate)
    }
    assert(heavyMin > lightMax,
      s"8%-target sources must sample at higher rates (min $heavyMin) " +
        s"than 2%-target ones (max $lightMax)")
  }

  test("q_pack_sequences: bins contiguous from 0, token totals conserved per source") {
    val packed = run("q_pack_sequences").collect()
    assert(packed.nonEmpty)
    val bySource = packed.groupBy(_.getString(0))
    val truth = Tables(spark, sf, "documents")
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(size(split(lower(col("text")), " ")).cast("long")).as("tok"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    bySource.foreach { case (src, rows) =>
      val bins = rows.map(_.getLong(rows.head.fieldIndex("bin"))).sorted
      assert(bins.head == 0L, s"$src: first bin ${bins.head}")
      assert(bins.zipWithIndex.forall { case (b, i) => b == i },
        s"$src: bins not contiguous: ${bins.mkString(",")}")
      val (nDocs, nTok) = truth(src)
      assert(rows.map(_.getLong(rows.head.fieldIndex("n_docs"))).sum == nDocs)
      assert(rows.map(_.getLong(rows.head.fieldIndex("bin_tokens"))).sum == nTok)
      // a non-final bin b closes only because the next doc's exclusive
      // cumsum crossed (b+1)*2048, so the running total through bin b
      // must be >= (b+1)*2048
      rows.sortBy(_.getLong(rows.head.fieldIndex("bin"))).init
        .foldLeft(0L) { (cum, r) =>
          val b = r.getLong(r.fieldIndex("bin"))
          val next = cum + r.getLong(r.fieldIndex("bin_tokens"))
          assert(next >= 2048 * (b + 1), s"$src bin $b under-filled: $next")
          next
        }
    }
  }

  test("q_pack_sequences: running sum is chunked — no single-task-per-source window") {
    // The round-6 shape (Window partitionBy source over every doc of the
    // source) collapses to one task per source key at 100 TB. The
    // round-7 two-level prefix sum must (a) run the data-sized running
    // sum under a (source, chunk) partition spec and (b) never window
    // the raw docs by source alone.
    val df = run("q_pack_sequences")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("Initial Plan")(0)
    assert("\\], \\[source#\\d+\\], \\[doc_id#".r.findFirstIn(plan).isEmpty,
      s"found a per-source window over raw docs (one task per source):\n$plan")
    assert("\\[source#\\d+[^\\]]*chunk#\\d+L?\\], \\[doc_id#".r
      .findFirstIn(plan).nonEmpty,
      s"expected the running sum windowed by (source, chunk):\n$plan")
  }

  test("q_winsorize: bounds ordered, clipping exact, only tail rows change") {
    val rows = run("q_winsorize").collect()
    assert(rows.nonEmpty)
    var changed = 0
    rows.foreach { r =>
      val v = r.getDouble(r.fieldIndex("value"))
      val p01 = r.getDouble(r.fieldIndex("p01"))
      val p99 = r.getDouble(r.fieldIndex("p99"))
      val c = r.getDouble(r.fieldIndex("clipped"))
      assert(p01 <= p99)
      assert(c >= p01 && c <= p99)
      assert(c == math.min(math.max(v, p01), p99))
      if (c != v) changed += 1
    }
    // clipping at p01/p99 must touch roughly the 2% tails, never the bulk
    assert(changed > 0 && changed <= rows.length / 10,
      s"$changed of ${rows.length} rows clipped")
    // Round-7 shape: the rank window must run under a (pid, event_type)
    // slice partition — a window by event_type alone over the raw values
    // is the one-task-per-type sort that dies at 100 TB. The only
    // type-alone window allowed is the slice-offset prefix sum over
    // O(#slices x #types) metadata rows (ordered by pid, not value).
    val plan = run("q_winsorize").queryExecution.executedPlan.toString
      .split("Initial Plan")(0)
    assert("\\], \\[event_type#\\d+\\], \\[value#".r.findFirstIn(plan).isEmpty,
      s"found a per-type window over the full value set:\n$plan")
    assert("\\[pid#\\d+, event_type#\\d+\\], \\[value#".r
      .findFirstIn(plan).nonEmpty,
      s"expected the rank window under (pid, event_type):\n$plan")
  }

  test("q_gopher_rules: verdicts derive from surfaced stats, gate discriminates, map-side") {
    val rows = run("q_gopher_rules").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nw, ml, fa, ns) = (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4))
      // every rule flag is exactly the advertised cut of its own column
      assert(r.getBoolean(5) == (nw >= 50 && nw <= 100000))
      assert(r.getBoolean(6) == (ml >= 3.0 && ml <= 10.0))
      assert(r.getBoolean(7) == (fa >= 0.8))
      assert(r.getBoolean(8) == (ns >= 2))
      // ...and keep is exactly their conjunction
      assert(r.getBoolean(9) == (r.getBoolean(5) && r.getBoolean(6) &&
        r.getBoolean(7) && r.getBoolean(8)))
    }
    // the gate must discriminate on the fixture — an all-pass (or
    // all-fail) ruleset pins nothing
    assert(rows.exists(_.getBoolean(9)) && rows.exists(!_.getBoolean(9)))
    assert(rows.exists(_.getBoolean(5)) && rows.exists(!_.getBoolean(5)))
    assert(rows.exists(_.getBoolean(8)) && rows.exists(!_.getBoolean(8)))
    // stateless projection: no hash exchange anywhere (presentation sort
    // is the only exchange allowed)
    val plan = run("q_gopher_rules").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"rule gate must not shuffle:\n$plan")
  }

  test("q_anomaly_mad: medians independently exact, flag matches score, scale-safe windows") {
    val rows = run("q_anomaly_mad").collect()
    assert(rows.nonEmpty)
    // independent ground truth: per-type type-7 median recomputed from
    // the raw values in-process (fixture scale), 4dp like the operator
    def median(vs: Array[Double]): Double = {
      val s = vs.sorted
      val h = 0.5 * (s.length - 1) + 1.0
      val (lo, hi) = (s(h.floor.toInt - 1), s(h.ceil.toInt - 1))
      BigDecimal(lo + (h - h.floor) * (hi - lo))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byType = rows.groupBy(_.getString(1))
    byType.foreach { case (t, rs) =>
      val vals = rs.map(_.getDouble(2))
      val med = rs.head.getDouble(3)
      val mad = rs.head.getDouble(4)
      assert(rs.forall(r => r.getDouble(3) == med && r.getDouble(4) == mad),
        s"$t: med/mad not constant within type")
      assert(med == median(vals), s"$t: med $med != recomputed")
      assert(mad == median(vals.map(v => math.abs(v - med))),
        s"$t: mad $mad != recomputed")
      assert(mad >= 0)
    }
    // flag is exactly the 3.5 cut of the surfaced score
    var out = 0
    rows.foreach { r =>
      assert(!r.isNullAt(5) && !r.isNullAt(6),
        "continuous fixture must have MAD > 0 everywhere")
      val z = r.getDouble(5)
      assert(r.getBoolean(6) == (math.abs(z) >= 3.5))
      if (r.getBoolean(6)) out += 1
    }
    // a robust detector flags the tails, never the bulk
    assert(out > 0 && out <= rows.length / 10,
      s"$out of ${rows.length} rows flagged")
    // both median passes must ride the shared (pid, event_type) ranked
    // shape — no per-type single-task value sort anywhere
    val plan = run("q_anomaly_mad").queryExecution.executedPlan.toString
      .split("Initial Plan")(0)
    assert("\\], \\[event_type#\\d+\\], \\[value#".r.findFirstIn(plan).isEmpty,
      s"found a per-type window over the full value set:\n$plan")
    assert("\\[pid#\\d+, event_type#\\d+\\], \\[value#".r
      .findAllIn(plan).length >= 2,
      s"expected BOTH rank windows under (pid, event_type):\n$plan")
  }

  test("q_ks_drift: D in [0,1], halves partition the stream, ECDF windows chunked") {
    val df = run("q_ks_drift")
    val rows = df.collect()
    assert(rows.nonEmpty)
    val total = Tables(spark, sf, "events").count()
    var seen = 0L
    rows.foreach { r =>
      val d = r.getDouble(r.fieldIndex("d_stat"))
      assert(d >= 0.0 && d <= 1.0)
      assert(d <= r.getDouble(r.fieldIndex("threshold")) ||
        r.getBoolean(r.fieldIndex("drifted")))
      seen += r.getLong(r.fieldIndex("n_early")) +
        r.getLong(r.fieldIndex("n_late"))
    }
    assert(seen == total, s"split must partition the stream: $seen != $total")
    // The round-6 shape windowed each type's FULL distinct-value set by
    // event_type alone — one task per type at 100 TB (value is
    // continuous, distinct ≈ rows). The round-7 shape must run every
    // value-ordered window under a (pid, event_type) slice partition;
    // the only event_type-alone window allowed is the slice-offset
    // prefix sum, which orders by pid over O(#slices × #types) metadata
    // rows, never by value over data.
    val plan = df.queryExecution.executedPlan.toString.split("Initial Plan")(0)
    assert("\\], \\[event_type#\\d+\\], \\[value#".r.findFirstIn(plan).isEmpty,
      s"found a per-type window over the full value set (one task per " +
        s"type):\n$plan")
    assert("\\[pid#\\d+, event_type#\\d+\\], \\[value#".r
      .findFirstIn(plan).nonEmpty,
      s"expected the ECDF running sums windowed by (pid, event_type):\n$plan")
  }

  test("q_entropy_per_source: 0 < H <= ln(n_distinct) (uniform bound)") {
    val rows = run("q_entropy_per_source").collect()
    assert(rows.length > 1)
    rows.foreach { r =>
      val h = r.getDouble(r.fieldIndex("entropy"))
      val nd = r.getLong(r.fieldIndex("n_distinct"))
      assert(h > 0.0, s"${r.getString(0)}: entropy $h")
      assert(h <= math.log(nd.toDouble) + 1e-4,
        s"${r.getString(0)}: H=$h exceeds ln($nd)")
    }
  }

  test("q_train_val_split: splits partition the corpus; one agg shuffle") {
    val rows = run("q_train_val_split").collect()
    val total = graft.Tables(spark, sf, "documents").count()
    // disjoint + complete: the per-(split, source) manifest sums back to
    // every document exactly once
    assert(rows.map(_.getLong(2)).sum == total)
    val splits = rows.map(_.getString(0)).toSet
    assert(splits == Set("train", "val", "test"), s"splits: $splits")
    // hash membership is per-doc: growth cannot migrate a doc between
    // splits, so the 90/5/5 gate must land near its expectation
    val byS = rows.groupBy(_.getString(0)).view
      .mapValues(_.map(_.getLong(2)).sum).toMap
    assert(byS("train") > total * 80 / 100 && byS("train") < total * 95 / 100,
      s"train share off expectation: $byS")
    // plan: map-side split assign + ONE aggregation exchange (plus the
    // presentation sort) — nothing else may shuffle
    val plan = run("q_train_val_split").queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected exactly 1 hash exchange:\n$plan")
  }

  test("q_sample_stratum_k: exactly k per stratum, rank-limit pruned pre-shuffle") {
    val df = run("q_sample_stratum_k")
    val rows = df.collect()
    val perSource = rows.groupBy(_.getString(0)).view.mapValues(_.length)
    assert(perSource.nonEmpty)
    perSource.foreach { case (src, n) =>
      assert(n <= 5, s"$src: $n > k")
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter should prune before the full window sort:\n$plan")
  }

  test("q_rank_normalize: pr in [0,1], ties share a value") {
    val rows = run("q_rank_normalize").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val pr = r.getDouble(r.fieldIndex("pr"))
      assert(pr >= 0.0 && pr <= 1.0)
    }
    val byKey = rows.groupBy(r =>
      (r.getString(r.fieldIndex("event_type")),
        r.getDouble(r.fieldIndex("value"))))
    byKey.foreach { case (k, rs) =>
      assert(rs.map(_.getDouble(rs.head.fieldIndex("pr"))).distinct.length == 1,
        s"tie group $k has divergent percent ranks")
    }
  }

  test("q_outlier_zscore: all flagged |z| >= 3, stats side broadcast, minority of events") {
    val df = run("q_outlier_zscore")
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(r.fieldIndex("z"))) >= 3.0)
    }
    val total = Tables(spark, sf, "events").count()
    assert(rows.length < total / 20,
      s"outliers should be rare: ${rows.length} of $total")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"5-row stats table must broadcast:\n$plan")
  }

  test("q_chunk_documents: chunks reconstruct every document exactly") {
    // stride-window chunking is lossless: concatenating each chunk's
    // first `stride` tokens (the last chunk in full) must reproduce the
    // document's token sequence — overlap exists but carries no drift
    val chunks = run("q_chunk_documents").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getLong(1))).toMap
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), lower(col("text"))).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(chunks.keySet == docs.keySet, "chunking dropped documents")
    docs.foreach { case (id, text) =>
      val toks = text.split(" ", -1).toSeq
      val cs = chunks(id)
      assert(cs.map(_.getLong(1)).toSeq == cs.indices.map(_.toLong).toSeq,
        s"doc $id: chunk_idx not contiguous")
      val rebuilt = (cs.init.flatMap(
        _.getString(3).split(" ", -1).take(40)) ++
        cs.last.getString(3).split(" ", -1)).toSeq
      assert(rebuilt == toks, s"doc $id: chunk reconstruction diverged")
      // overlap contract: consecutive chunks share width-stride tokens
      cs.sliding(2).filter(_.length == 2).foreach { pair =>
        val (a, b) = (pair(0), pair(1))
        assert(a.getString(3).split(" ", -1).drop(40).toSeq ==
          b.getString(3).split(" ", -1).take(10).toSeq,
          s"doc $id: overlap mismatch between chunks")
      }
    }
  }

  test("q_novelty_incremental: drop-only scans, stored shingle set, batch containment") {
    // warm the bucketed corpus shingle table, then pin the refresh plan
    run("q_novelty_incremental").count()
    val df = run("q_novelty_incremental")
    val rows = df.collect()
    assert(rows.nonEmpty)
    // only drop docs appear; bounds hold
    rows.foreach { r =>
      assert(r.getLong(0) % 10 == 3, s"non-drop doc ${r.getLong(0)}")
      assert(r.getLong(2) >= 0 && r.getLong(2) <= r.getLong(1))
      val f = r.getDouble(3); assert(f >= 0.0 && f <= 1.0)
    }
    // containment vs the batch operator: a shingle novel against the
    // ALREADY-OLDER corpus is a fortiori first-seen under the batch
    // min-doc_id convention, so inc novel count <= batch novel count
    val batch = SparkEntry.queries("q_ngram_novelty")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    rows.foreach { r =>
      assert(r.getLong(2) <= batch(r.getLong(0)),
        s"doc ${r.getLong(0)}: inc ${r.getLong(2)} > batch ${batch(r.getLong(0))}")
    }
    // plan: corpus arrives from the stored bucketed table; every live
    // documents scan carries the drop filter (corpus re-scanned zero
    // times per refresh). The drop-side cache fill runs a plan of its
    // own, so inspect every plan the build runs.
    val plan = builtPlans("q_novelty_incremental").mkString("\n")
    assert(plan.contains("graft_novidx_"),
      s"stored shingle table missing from the refresh plan:\n$plan")
    val docScans = plan.linesIterator
      .filter(_.contains("documents.parquet")).toSeq
    assert(docScans.nonEmpty, "drop side must scan documents")
    docScans.foreach(l => assert(l.contains("% 10) = 3"),
      s"documents scan without the drop filter (corpus re-scanned):\n$l"))
  }

  test("q_stats_incremental: corpus served by persisted partials, drop-only scans") {
    // warm the partial table (idempotent), then pin the refresh plan:
    // the only documents scans are the NEW-drop side (% 10 = 3 filter);
    // the corpus arrives as the stored O(sources)-row partial parquet
    run("q_stats_incremental").count()
    val df = run("q_stats_incremental")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_statsidx_"),
      s"persisted partials missing from the refresh plan:\n$plan")
    val docScans = plan.linesIterator
      .filter(_.contains("documents.parquet")).toSeq
    assert(docScans.nonEmpty, "drop side must scan documents")
    docScans.foreach(l => assert(l.contains("% 10) = 3"),
      s"documents scan without the drop filter (corpus re-scanned):\n$l"))
    // and the merged result is the full-corpus truth (oracle's claim,
    // asserted here too so the spec stands alone)
    val full = Tables(spark, sf, "documents")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = df.collect()
      .map(r => r.getString(0) -> r.getLong(r.fieldIndex("n_docs"))).toMap
    assert(got == full, s"merged stats != full recompute: $got vs $full")
  }

  test("q_distinct_incremental: lossless merge, <2% error, drop-only scans") {
    // warm the stored sketch partials (idempotent), then pin the refresh
    run("q_distinct_incremental").count()
    val df = run("q_distinct_incremental")
    val got = df.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty)
    // HLL union at equal lgK is lossless: merged partials must estimate
    // EXACTLY what a single-pass sketch of the whole table estimates
    val whole = Tables(spark, sf, "events")
      .groupBy("event_type")
      .agg(hll_sketch_estimate(
        hll_sketch_agg(col("user_id"), lit(12))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == whole,
      s"merged-partial estimates diverge from single-pass: $got vs $whole")
    // and the sketch answers are near the exact truth
    val exact = Tables(spark, sf, "events")
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach { case (t, est) =>
      val e = exact(t)
      assert(math.abs(est - e).toDouble / e < 0.02,
        s"$t: estimate $est vs exact $e exceeds 2%")
    }
    // plan: the only events scans are the new-drop side; the corpus
    // arrives as the stored sketch parquet
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_hllidx_"),
      s"persisted sketches missing from the refresh plan:\n$plan")
    val evScans = plan.linesIterator
      .filter(_.contains("events.parquet")).toSeq
    assert(evScans.nonEmpty, "drop side must scan events")
    evScans.foreach(l => assert(l.contains("% 10) = 3"),
      s"events scan without the drop filter (corpus re-counted):\n$l"))
  }

  test("q_dq_expectations: gate identity, clean rules pass, planted cap fails") {
    val rows = run("q_dq_expectations").collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to 7L), "rule_idx 1..7")
    rows.foreach { r =>
      assert(r.getBoolean(3) == (r.getLong(2) == 0L),
        s"pass flag must cut on the violation count: $r")
    }
    // the fixture warehouse is clean for the structural rules...
    rows.filter(_.getLong(0) <= 6).foreach { r =>
      assert(r.getBoolean(3), s"structural rule must hold on fixture: $r")
    }
    // ...and the deliberately tight price cap genuinely counts violators
    val cap = rows.find(_.getString(1) == "totalprice_below_cap").get
    val expected = Tables(spark, sf, "orders")
      .filter(col("o_totalprice") > 400000).count()
    assert(expected > 0, "fixture must violate the planted cap")
    assert(cap.getLong(2) == expected && !cap.getBoolean(3),
      s"cap rule: ${cap.getLong(2)} violations vs recount $expected")
  }

  test("q_rfm_segments: per-customer scores, quintile monotonicity") {
    val rows = run("q_rfm_segments").collect()
    val nCust = Tables(spark, sf, "orders")
      .select("o_custkey").distinct().count()
    assert(rows.length == nCust, "one segment row per ordering customer")
    rows.foreach { r =>
      val (rs, fs, ms) = (r.getLong(r.fieldIndex("r_score")),
        r.getLong(r.fieldIndex("f_score")), r.getLong(r.fieldIndex("m_score")))
      assert(rs >= 1 && rs <= 5 && fs >= 1 && fs <= 5 && ms >= 1 && ms <= 5,
        s"scores out of quintile range: $r")
      assert(r.getLong(r.fieldIndex("rfm")) == rs * 100 + fs * 10 + ms)
    }
    // scores are monotone in their metric (shared global thresholds):
    // more frequent customer can never have a lower f_score, higher
    // monetary never a lower m_score, more recent never a lower r_score
    def monotone(metric: String, score: String, invert: Boolean) = {
      val pairs = rows.map(r => (
        if (metric == "monetary") r.getDouble(r.fieldIndex(metric))
        else r.getLong(r.fieldIndex(metric)).toDouble,
        r.getLong(r.fieldIndex(score)))).sortBy(_._1)
      pairs.sliding(2).foreach {
        case Array((v1, s1), (v2, s2)) =>
          if (invert) assert(s2 <= s1 || v1 == v2,
            s"$score not anti-monotone in $metric at $v1->$v2")
          else assert(s2 >= s1 || v1 == v2,
            s"$score not monotone in $metric at $v1->$v2")
        case _ => ()
      }
    }
    monotone("frequency", "f_score", invert = false)
    monotone("monetary", "m_score", invert = false)
    monotone("recency_days", "r_score", invert = true)
    // the quintile cuts genuinely split the fixture
    assert(rows.map(_.getLong(rows.head.fieldIndex("f_score")))
      .distinct.length > 1, "f_score must discriminate")
  }

  test("q_abtest_ztest: arms partition users, gate identity, finite stats") {
    val rows = run("q_abtest_ztest").collect()
    assert(rows.length == 1, "experiment readout must be exactly one row")
    val r = rows.head
    def l(c: String) = r.getLong(r.fieldIndex(c))
    def d(c: String) = r.getDouble(r.fieldIndex(c))
    // the two arms partition the user base — nobody dropped, nobody in both
    val nUsers = Tables(spark, sf, "events")
      .select("user_id").distinct().count()
    assert(l("n_a") + l("n_b") == nUsers,
      s"arms don't partition users: ${l("n_a")}+${l("n_b")} != $nUsers")
    assert(l("n_a") > 0 && l("n_b") > 0, "an empty arm makes z undefined")
    // converter counts bounded by arm sizes; displayed rates agree
    assert(l("conv_a") <= l("n_a") && l("conv_b") <= l("n_b"))
    assert(math.abs(d("rate_a") - l("conv_a").toDouble / l("n_a")) < 1e-4)
    // statistics are finite (the fixture's conversion predicate genuinely
    // splits, so neither pooled rate nor variance degenerates)
    assert(!d("z_rate").isNaN && !d("z_rate").isInfinite)
    assert(!d("z_mean").isNaN && !d("z_mean").isInfinite)
    // significance gates cut on the displayed 6dp values
    assert(r.getBoolean(r.fieldIndex("sig_rate")) ==
      (math.abs(d("z_rate")) >= 1.96))
    assert(r.getBoolean(r.fieldIndex("sig_mean")) ==
      (math.abs(d("z_mean")) >= 1.96))
    // variant assignment is the portable h60 gate: re-running moves nobody
    val again = run("q_abtest_ztest").collect().head
    assert(again.toString == r.toString, "readout must be deterministic")
  }
}
