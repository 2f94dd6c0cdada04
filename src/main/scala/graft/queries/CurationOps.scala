package graft.queries

import graft.Tables
import graft.functions.GraftExtensions.{h60, h60Sql}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 training-data curation operators: benchmark decontamination,
  * PII redaction, repetition scoring, target-mixture resampling, sequence
  * packing, and distribution-outlier flagging. Together with TextOps /
  * AnnOps / SamplingOps these close the day-to-day loop of a corpus
  * curation pipeline: find leaked eval data, scrub contact strings, drop
  * degenerate repetition, rebalance sources to a target mixture, pack
  * documents into fixed token budgets, and flag metric outliers.
  *
  * Scale notes per operator are inline; the common theme: every shuffle
  * is keyed (shingle hash / source / event_type / doc_id), small sides
  * are broadcast (probe shingle set, 20-row rate table, 5-row stats
  * table), and nothing ever collects or cross-joins the corpus.
  *
  * Determinism follows the proven house rules (SURVEY §7.4): hash
  * sampling (never RNG), exact-decimal sums before any double cast,
  * rounded values at every engine-comparison boundary, total ORDER BY
  * with unique keys.
  */
object CurationOps {

  // PII patterns: intersection of Java-regex and RE2 syntax (char
  // classes + bounded repeats only), so Spark and DuckDB match the same
  // spans. The synthesized contact string keeps the raw c_name (mixed
  // case + '#') outside both patterns, proving redaction is targeted.
  private val emailRe = "[a-z0-9.]+@[a-z0-9.]+"
  private val phoneRe = "555-[0-9]{4}"

  /** EXACT per-event_type type-7 interpolated percentiles over
    * `(event_type, value, id)`, via the distributed two-pass
    * range-partitioned rank shape (q_winsorize round-7 machinery,
    * factored in round 10 for reuse by the robust-stats family — the
    * winsorize plan is unchanged by the extraction, pinned by its
    * committed plan digest). Never a per-type single-task sort:
    * range-partition by (type, value, id), per-(slice, type) subtotals
    * prefix-summed over metadata-sized rows and broadcast back, global
    * rank = slice offset + slice-local row_number, with the in-DAG
    * assert_true guard (tagged `guard`) against the range partitioner
    * re-sampling between the subtotal and rank passes. Returns one row
    * per type: `(event_type, <tag>...)`, each percentile 4dp-rounded
    * (the q_quantiles-proven DuckDB quantile_cont formula parity). */
  private def exactTypeQuantiles(s: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame, ps: Seq[(Double, String)],
      guard: String): org.apache.spark.sql.DataFrame =
    exactTypeQuantilesParted(s, df, ps, guard)._1

  /** [[exactTypeQuantiles]] that ALSO returns the range-partitioned
    * `(event_type, value, id, pid)` frame its rank machinery is built
    * on (round 17, guide §2.4): a caller that joins the quantile row
    * back onto the input (winsorize clip, MAD deviations, the robust-z
    * projection) reads THIS frame instead of re-scanning the base
    * table — the range exchange is already in the plan twice (subtotal
    * + rank passes) and a third identical reference rides the same
    * reused shuffle output, where a fresh scan would re-read parquet
    * and re-run the projection single-task on the unsplittable fixture
    * row group. Rows are identical to the input by construction (the
    * exchange only moves them). */
  private def exactTypeQuantilesParted(
      s: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame, ps: Seq[(Double, String)],
      guard: String): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    val nPart = s.sparkContext.defaultParallelism
    val parted = df
      .repartitionByRange(nPart, col("event_type"), col("value"),
        col("id"))
      .withColumn("pid", spark_partition_id())
    val subs = parted.groupBy("pid", "event_type")
      .agg(count(lit(1)).as("scnt"))
    val wOff = Window.partitionBy("event_type").orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = subs
      .withColumn("off", coalesce(sum(col("scnt")).over(wOff), lit(0L)))
      .select("pid", "event_type", "off", "scnt")
    val tots = subs.groupBy("event_type")
      .agg(sum(col("scnt")).as("n"))
    val wRn = Window.partitionBy("pid", "event_type")
      .orderBy(col("value"), col("id"))
    val wCnt = Window.partitionBy("pid", "event_type")
    val ranked = parted
      .join(broadcast(offs), Seq("pid", "event_type"))
      .join(broadcast(tots), Seq("event_type"))
      .withColumn("chk", assert_true(
        count(lit(1)).over(wCnt) === col("scnt"),
        lit(s"$guard: range partitioning drifted between the " +
          "subtotal pass and the rank pass")))
      .filter(col("chk").isNull)
      .withColumn("rn", col("off") + row_number().over(wRn))
    def h(p: Double): Column = lit(p) * (col("n") - 1) + 1.0
    def interp(p: Double, tag: String) = Seq(
      max(when(col("rn") === floor(h(p)), col("value"))).as(s"lo_$tag"),
      max(when(col("rn") === ceil(h(p)), col("value"))).as(s"hi_$tag"))
    val res = ranked.groupBy("event_type")
      .agg(max(col("n")).as("n"),
        ps.flatMap { case (p, tag) => interp(p, tag) }: _*)
      .select(col("event_type") +: ps.map { case (p, tag) =>
        round(col(s"lo_$tag") + (lit(p) * (col("n") - 1) + 1.0
          - floor(lit(p) * (col("n") - 1) + 1.0))
          * (col(s"hi_$tag") - col(s"lo_$tag")), 4).as(tag)
      }: _*)
    (res, parted)
  }

  val q: Map[String, Q] = Map(
    // ── Benchmark decontamination ─────────────────────────────────────
    // Flag corpus documents sharing any 5-token shingle with a held-out
    // probe/eval set (stand-in: doc_id % 20 == 0 — in production the
    // probe side is the benchmark suite). The LLM-pipeline step that
    // keeps test sets out of training data. Shape: one fused
    // shingle_hash60 pass over the corpus, probe's DISTINCT shingle set
    // broadcast (eval suites are tiny vs the corpus), equi-join on the
    // 8-byte hash, per-doc count — shuffle O(corpus shingles), corpus
    // never self-joins. At 100 TB the probe set stays broadcast-able
    // (benchmarks are MBs); the corpus side streams map-side.
    "q_decontaminate" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val sh = Tables.spread(s, d, "documents").select(col("doc_id"),
        explode(graft.functions.ShingleHash60(s, col("text"), 5,
          distinct = true)).as("s"))
      val probe = sh.filter(col("doc_id") % 20 === 0)
        .select("s").distinct()
      val hits = sh.filter(col("doc_id") % 20 =!= 0)
        .join(broadcast(probe), Seq("s"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
      docs.filter(col("doc_id") % 20 =!= 0)
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
          (coalesce(col("n_overlap"), lit(0L)) > 0).as("contaminated"))
        .orderBy("doc_id")
    }),

    // ── PII redaction ─────────────────────────────────────────────────
    // Scrub emails/phones from free text, reporting per-row match counts
    // plus the redacted text. The fixture tables carry no real PII, so
    // the contact string is synthesized deterministically from customer
    // (same pattern as q_cdc_* synthesizing paths from orders) — the
    // CONTRACT is the regex count+replace pipeline, which is what runs
    // over real text. Stateless codegen'd projection: zero shuffles
    // beyond the final presentation sort; at 100 TB this is a pure
    // map-side pass.
    "q_pii_redact" -> ((s, d) => {
      val contact = concat(
        col("c_mktsegment"), lit(" contact "),
        lower(regexp_replace(col("c_name"), "[^A-Za-z0-9]", "")),
        lit("@mail.example phone 555-"),
        lpad(pmod(col("c_custkey"), lit(10000)).cast("string"), 4, "0"),
        lit(" ref "), col("c_name"))
      Tables(s, d, "customer")
        .withColumn("contact", contact)
        .select(col("c_custkey"),
          regexp_count(col("contact"), lit(emailRe)).cast("long")
            .as("n_emails"),
          regexp_count(col("contact"), lit(phoneRe)).cast("long")
            .as("n_phones"),
          regexp_replace(regexp_replace(col("contact"), emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>").as("redacted"))
        .orderBy("c_custkey")
    }),

    // ── k-anonymity / l-diversity audit (round 11) ───────────────────
    // The privacy-release audit next to q_pii_redact's scrubbing: PII
    // regexes catch direct identifiers, but a release is still
    // re-identifiable through QUASI-identifier combinations, so this
    // reports, per (nation, market-segment) equivalence class, the
    // class size n (k-anonymity: every class must have n >= k, here
    // k=5), the count of distinct sensitive values (l-diversity over
    // the $1000 account-balance band — a k-anonymous class whose
    // members all share one sensitive value still leaks it; l=3), and
    // the worst-case re-identification risk 1/n. Classes failing
    // either gate are what a release pipeline suppresses or
    // generalizes. Determinism: the sensitive band is integer cents
    // shifted positive then `div` (Spark truncation == DuckDB floor on
    // positives — a raw div on negative cents would fork the engines);
    // risk is a 6dp ratio of exact ints. Scale shape: ONE QI-keyed
    // two-phase agg; the QI space is tiny at any corpus size, and the
    // suppression verdict broadcasts back onto rows map-side.
    "q_k_anonymity" -> ((s, d) => {
      val band = expr(
        "(cast(round(c_acctbal * 100) as bigint) + 100000) div 100000")
      Tables(s, d, "customer")
        .select(col("c_nationkey"), col("c_mktsegment"), band.as("band"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("band")).as("n_sensitive"))
        .select(col("c_nationkey"), col("c_mktsegment"), col("n"),
          col("n_sensitive"),
          round(lit(1.0) / col("n"), 6).as("reident_risk"),
          (col("n") >= 5).as("meets_k"),
          (col("n_sensitive") >= 3).as("meets_l"))
        .orderBy("c_nationkey", "c_mktsegment")
    }),

    // ── Repetition scoring ────────────────────────────────────────────
    // Gopher-style degenerate-repetition signals: per-doc duplicate
    // fraction of tokens and of 2-gram shingles (1 - distinct/total).
    // High values flag boilerplate/spam for the curation filter.
    // Stateless projection over array higher-order functions + the fused
    // shingle kernel — no explode, no shuffle, no UDF; map-side at any
    // scale. ShingleHash60(distinct) dedups shingle STRINGS inside the
    // expression, so size() is the distinct-2-gram count.
    "q_repetition_ratio" -> ((s, d) => {
      val tok = split(lower(col("text")), " ")
      Tables(s, d, "documents")
        .withColumn("n_tok", size(tok).cast("long"))
        .withColumn("n_dist_tok", size(array_distinct(tok)).cast("long"))
        .withColumn("n_2gram", greatest(size(tok) - 1, lit(0)).cast("long"))
        .withColumn("n_dist_2gram",
          size(graft.functions.ShingleHash60(s, col("text"), 2,
            distinct = true)).cast("long"))
        .select(col("doc_id"), col("n_tok"), col("n_dist_tok"),
          col("n_2gram"), col("n_dist_2gram"),
          round(lit(1.0) - col("n_dist_tok").cast("double") / col("n_tok"), 6)
            .as("rep_token"),
          when(col("n_2gram") > 0,
            round(lit(1.0)
              - col("n_dist_2gram").cast("double") / col("n_2gram"), 6))
            .otherwise(lit(0.0)).as("rep_2gram"))
        .orderBy("doc_id")
    }),

    // ── Target-mixture resampling (domain mixing) ─────────────────────
    // Rebalance the corpus toward declared per-source target weights
    // (even-numbered sources 8%, odd 2% — the "books up, crawl down"
    // recipe): per-source acceptance rate = min(1, w*N/n_source),
    // applied as a reproducible doc_id-hash gate. Two tiny broadcast
    // sides (1-row total, 20-row rate table); the corpus is touched by
    // exactly one map-side filter pass + one per-source count — the
    // shape that lets a 100-TB remix run as a single scan. The gate is
    // INTEGER cross-multiplication (round 7, ADVICE): accept iff
    // h * n_source < w_scaled * n_total with w_scaled = w*10000 exact —
    // algebraically identical to h/10000 < min(1, w*N/n) (the cap case
    // follows since h <= 9999), with zero double arithmetic on the
    // comparison boundary. The 4dp `rate` column remains as the REPORTED
    // value only; gating through it would re-introduce the
    // double-rounding divergence 543ac1f removed from
    // q_embedding_project (Spark rounds shortest-repr HALF_UP, DuckDB
    // the binary value). Long math headroom: h*n_source <= 1e4 * 1e12
    // and w_scaled*n_total <= 1e4 * 1e13 at 100 TB — both far under
    // 2^63.
    "q_domain_mix" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val even = substring(col("source"), 4, 10).cast("int") % 2 === 0
      val rates = docs.groupBy("source")
        .agg(count(lit(1)).as("n_source"))
        .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_total"))))
        .withColumn("target_w", when(even, 0.08).otherwise(0.02))
        .withColumn("w_scaled", when(even, 800L).otherwise(200L))
        .withColumn("rate",
          round(least(lit(1.0),
            col("target_w") * col("n_total") / col("n_source")), 4))
      val kept = docs.join(
          broadcast(rates.select("source", "n_source", "n_total",
            "w_scaled")), "source")
        .filter(pmod(h60(col("doc_id")), lit(10000))
          * col("n_source") < col("w_scaled") * col("n_total"))
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
      rates.join(kept, Seq("source"), "left")
        .select(col("source"), col("n_source"), col("target_w"), col("rate"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy("source")
    }),

    // ── Sequence packing ──────────────────────────────────────────────
    // Pack documents into fixed token-budget bins (2048) per source by
    // deterministic order — the concat-then-split packing a training
    // pipeline runs before tokenized-batch writing. bin = floor(exclusive
    // running-token-sum / budget): contiguous docs share a bin, a doc
    // straddling the boundary opens the next one.
    //
    // Round 7: the prefix sum is TWO-LEVEL (replacing a per-source
    // window that sorted each source's entire row set in ONE task —
    // the skewed-key scale-killer at 100 TB with a handful of sources):
    //   level 1 — deterministic ordered chunks derived from the doc_id
    //     itself (chunk = doc_id div C): no range sampling, no persist/
    //     recompute hazard, ≤ C docs per (source, chunk) task;
    //   level 2 — per-chunk token totals (metadata: O(n/C) tiny rows)
    //     prefix-summed per source and joined back as chunk offsets.
    // Sizing: C ≈ sqrt(max docs/source) balances the two levels (C rows
    // per level-1 task, n/C metadata rows per level-2 group); tune via
    // spark.graft.packChunkSize. The /2048 quotient is a power-of-2
    // division — exact in binary floating point, so floor() is
    // engine-deterministic; chunking only changes WHERE partial sums
    // are computed, never their integer values, so the output is
    // bit-identical to the single-window form (the DuckDB oracle).
    "q_pack_sequences" -> ((s, d) => {
      val docs = Tables(s, d, "documents").select(
        col("doc_id"), col("source"),
        size(split(lower(col("text")), " ")).cast("long").as("n_tok"))
      val c = s.conf.get("spark.graft.packChunkSize", "4096").toLong
      val chunked = docs.withColumn("chunk",
        floor(col("doc_id") / lit(c)).cast("long"))
      val offs = chunked.groupBy("source", "chunk")
        .agg(sum(col("n_tok")).as("chunk_tok"))
        .withColumn("chunk_off",
          coalesce(sum(col("chunk_tok")).over(
            Window.partitionBy("source").orderBy("chunk")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("source", "chunk", "chunk_off")
      val wChunk = Window.partitionBy("source", "chunk").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
      chunked
        .join(broadcast(offs), Seq("source", "chunk"))
        .withColumn("cum_excl",
          col("chunk_off") + sum(col("n_tok")).over(wChunk) - col("n_tok"))
        .withColumn("bin",
          floor(col("cum_excl") / lit(2048)).cast("long"))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("bin_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy("source", "bin")
    }),

    // ── Sliding-window document chunking (round 10) ──────────────────
    // The embedding/RAG-prep inverse of q_pack_sequences: long documents
    // split into fixed-width token windows (50 tokens, stride 40 — 10
    // tokens of overlap so no phrase is cut at every boundary), each
    // chunk carrying (doc_id, chunk_idx, n_tokens, text). The whole
    // operator is a stateless projection + explode: chunk starts come
    // from sequence(0, n-1, stride) and the window is slice() on the one
    // token array — no shuffle except the presentation sort, so at
    // 100 TB it rides the scan with an output factor of ~len/stride.
    // Chunk widths clamp identically on both engines at the tail
    // (slice vs list_slice both truncate at the array end).
    "q_chunk_documents" -> ((s, d) => {
      val width = 50
      val stride = 40
      Tables(s, d, "documents")
        .select(col("doc_id"), split(lower(col("text")), " ").as("tok"))
        .select(col("doc_id"), col("tok"),
          posexplode(sequence(lit(0),
            greatest(size(col("tok")) - 1, lit(0)), lit(stride))))
        .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
          slice(col("tok"), col("col") + 1, lit(width)).as("chunk"))
        .select(col("doc_id"), col("chunk_idx"),
          size(col("chunk")).cast("long").as("n_tokens"),
          array_join(col("chunk"), " ").as("chunk_text"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // ── Distribution outliers (z-score) ───────────────────────────────
    // Per-event-type z-score over `value`; flag |z| >= 3 — the metric
    // QA pass before training on telemetry-derived features. Moments
    // come from exact decimal sums (order-independent across engines;
    // decimal(12,2) and the (25,4) product sum are exactly double-
    // representable after the scale-preserving round), broadcast back
    // as a 5-row stats table; z rounds to 4dp so the >= 3 gate cuts at
    // the same boundary on both engines. A zero-variance type (std = 0,
    // possible on a real drop) yields NULL z on BOTH engines via an
    // explicit guard (round 7, ADVICE) — without it Spark's non-ANSI
    // divide returns NULL while DuckDB's IEEE float divide returns
    // inf/nan, silently flipping row membership cross-engine. One
    // map-side agg + broadcast join: a single scan at any scale.
    // ── Gopher quality rules ──────────────────────────────────────────
    // Round 10: the Gopher/Dolma rule-based quality gate as ONE compound
    // operator with per-rule verdicts — the transparent companion to
    // q_quality_score's opaque composite (a pipeline owner needs to know
    // WHICH rule dropped a doc to tune thresholds): word count in
    // [50, 100k], mean word length in [3, 10], >= 80% of words contain a
    // letter, >= 2 distinct stop words present (the Gopher paper's
    // bounds, which the fixture distribution genuinely straddles), all
    // folded into gopher_keep. Exact integer arithmetic until the two
    // 4dp-rounded divisions; rule cuts compare the ROUNDED values so
    // both engines gate identically. Stateless array-HOF projection —
    // no explode, no shuffle, map-side at any scale.
    "q_gopher_rules" -> ((s, d) => {
      val tok = split(lower(col("text")), " ")
      val stopArr = array(
        Seq("the", "a", "of", "and", "to", "in").map(lit): _*)
      Tables(s, d, "documents")
        .withColumn("n_words", size(tok).cast("long"))
        .withColumn("mean_word_len",
          round(aggregate(transform(tok, t => length(t)), lit(0),
            (acc, x) => acc + x).cast("double") / col("n_words"), 4))
        .withColumn("frac_alpha",
          round(size(filter(tok, t => t.rlike("[a-z]"))).cast("double")
            / col("n_words"), 4))
        .withColumn("n_stop_distinct",
          size(array_intersect(array_distinct(tok), stopArr)).cast("long"))
        .withColumn("r_wordcount",
          col("n_words") >= 50 && col("n_words") <= 100000)
        .withColumn("r_meanlen",
          col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
        .withColumn("r_alpha", col("frac_alpha") >= 0.8)
        .withColumn("r_stop", col("n_stop_distinct") >= 2)
        .withColumn("gopher_keep", col("r_wordcount") && col("r_meanlen")
          && col("r_alpha") && col("r_stop"))
        .select("doc_id", "n_words", "mean_word_len", "frac_alpha",
          "n_stop_distinct", "r_wordcount", "r_meanlen", "r_alpha",
          "r_stop", "gopher_keep")
        .orderBy("doc_id")
    }),

    "q_outlier_zscore" -> ((s, d) => {
      val dec = col("value").cast("decimal(12,2)")
      val stats = Tables(s, d, "events").groupBy("event_type").agg(
        count(lit(1)).as("n"),
        round(sum(dec), 2).cast("double").as("sx"),
        round(sum(dec * dec), 4).cast("double").as("sxx"))
      Tables(s, d, "events").join(broadcast(stats), "event_type")
        .withColumn("mean", col("sx") / col("n"))
        .withColumn("std",
          sqrt(col("sxx") / col("n") - col("mean") * col("mean")))
        .withColumn("z", when(col("std") > 0,
          round((col("value") - col("mean")) / col("std"), 4)))
        .filter(abs(col("z")) >= 3.0)
        .select(col("event_id"), col("event_type"), col("value"),
          round(col("mean"), 6).as("mean"), col("z"))
        .orderBy("event_id")
    }),

    // ── Winsorization (percentile clipping) ───────────────────────────
    // Clamp `value` to exact per-type [p01, p99] — the feature-prep pass
    // before telemetry-derived signals feed training. Percentiles are
    // EXACT type-7 interpolations over GLOBAL per-type ranks computed
    // the scale-true way (round 7; previously a per-type window whose
    // sort collapsed to one task per type): the q_ks_drift two-pass
    // range-partitioned prefix sum — range-partition by (type, value,
    // event_id), per-(slice, type) subtotals prefix-summed over
    // metadata-sized rows, broadcast back, rank = offset + slice-local
    // row_number, with the same in-DAG assert_true guard against the
    // range partitioner re-sampling between passes. Boundary rows picked
    // by rank arithmetic, 4dp-rounded like q_quantiles (proven formula
    // parity with DuckDB quantile_cont); the sketch escape hatch stays
    // q_quantiles_grouped. Clip bounds come back as a 5-row broadcast.
    "q_winsorize" -> ((s, d) => {
      val ev = Tables(s, d, "events")
      // Round-17 (guide §2.4): the clip projection reads the quantile
      // pass's own range-partitioned frame (reused shuffle output)
      // instead of a second events scan.
      val (stats, parted) = exactTypeQuantilesParted(s,
        ev.select(col("event_type"), col("value"),
          col("event_id").as("id")),
        Seq(0.01 -> "p01", 0.99 -> "p99"), "q_winsorize")
      parted.select(col("event_type"), col("value"),
          col("id").as("event_id"))
        .join(broadcast(stats), "event_type")
        .select(col("event_id"), col("event_type"), col("value"),
          col("p01"), col("p99"),
          least(greatest(col("value"), col("p01")), col("p99"))
            .as("clipped"))
        .orderBy("event_id")
    }),

    // ── Robust (median/MAD) outlier detection ─────────────────────────
    // Round 10: the Iglewicz–Hoaglin modified z-score |0.6745 (x −
    // med)/MAD| >= 3.5 per event_type — the robust companion to
    // q_outlier_zscore whose mean/stddev a single extreme value can
    // drag (masking the very outliers being hunted); median and MAD
    // have a 50% breakdown point. Both statistics are EXACT type-7
    // interpolated medians computed on the shared exactTypeQuantiles
    // rank shape (never a per-type single-task sort): one pass for the
    // per-type median, one for the median of |value − med| — two
    // range-partitioned scans + metadata-sized broadcasts at any scale.
    // rob_z is deliberately UNROUNDED: med/mad arrive 4dp-portable, so
    // 0.6745(x−med)/mad is the same IEEE double on both engines
    // (q_importance_sample's bit-exactness argument), while rounding the
    // quotient would re-open the boundary fork the sf0.1 gate caught at
    // 31/100k cells (the q_perplexity_bigram lesson — a 4dp round of a
    // double quotient lands on .00005 edges where Spark's shortest-repr
    // HALF_UP and DuckDB's binary round disagree). The 3.5 flag cuts the
    // identical doubles identically. A degenerate MAD = 0 type (possible
    // when >50% of a type's values are identical) yields NULL
    // rob_z/is_outlier on both engines rather than an inf/NaN fork.
    "q_anomaly_mad" -> ((s, d) => {
      // Round-17 note: feeding the MAD pass and the final projection
      // from the median pass's range-partitioned frame (the winsorize
      // §2.4 rewire) was tried and MEASURED SLOWER here (TimeOne warm
      // 3.7-4.9 s vs 2.6-3.0 s, targeted bench median 8.8 vs 3.6 s):
      // the second quantile pass then range-SAMPLES a
      // shuffle-read + broadcast-join chain instead of a cheap
      // columnar scan, and the fresh scan is the cheaper producer for
      // both consumers. Kept on the proven two-scan shape.
      val ev = Tables(s, d, "events")
      val med = exactTypeQuantiles(s,
        ev.select(col("event_type"), col("value"),
          col("event_id").as("id")),
        Seq(0.5 -> "med"), "q_anomaly_mad/med")
      val dev = ev.join(broadcast(med), "event_type")
        .select(col("event_type"),
          abs(col("value") - col("med")).as("value"),
          col("event_id").as("id"))
      val mad = exactTypeQuantiles(s, dev,
        Seq(0.5 -> "mad"), "q_anomaly_mad/mad")
      ev.join(broadcast(med), "event_type")
        .join(broadcast(mad), "event_type")
        .withColumn("rob_z", when(col("mad") > 0,
          lit(0.6745) * (col("value") - col("med")) / col("mad")))
        .select(col("event_id"), col("event_type"), col("value"),
          col("med"), col("mad"), col("rob_z"),
          when(col("rob_z").isNotNull, abs(col("rob_z")) >= 3.5)
            .as("is_outlier"))
        .orderBy("event_id")
    }),

    // ── Two-sample KS drift test ──────────────────────────────────────
    // Distribution drift between the early and late halves of the event
    // stream (split at the integer-micros timestamp midpoint), per
    // event_type: D = max |ECDF_early - ECDF_late| over distinct values
    // — the corpus-version QA gate before a retrain. ECDFs compare at
    // distinct-value granularity, so duplicate handling is
    // tie-unambiguous on both engines. Flag at the alpha=0.05 critical
    // value 1.3581*sqrt((nA+nB)/(nA*nB)).
    //
    // Round 7: the ECDF prefix sums are DISTRIBUTED (replacing per-type
    // windows that sorted each type's full distinct-value set — value
    // is continuous so distinct ≈ rows — in ONE task). This is the
    // q_quantiles two-pass exact-rank shape (SamplingOps.scala) with
    // zero driver collect: range-partition the distinct (type, value)
    // rows so every task owns a bounded slice of one type's value
    // range; cumulative counts = within-slice running sum + the slice's
    // offset. Offsets/totals come from a per-(slice, type) subtotal
    // frame — O(#partitions × #types) metadata rows — prefix-summed
    // over slice ids and broadcast back. Distinct (type, value) keys
    // mean no tie ever straddles a slice boundary. Both branches re-read
    // the same range exchange (reused, not recomputed, within the one
    // plan); an in-DAG assert_true cross-checks each slice's row count
    // against the subtotal pass, so a recomputed-and-resampled exchange
    // fails loudly instead of silently shifting ranks (the q_quantiles
    // drift guard, without its driver round-trip). Degenerate halves
    // (na or nb = 0 — possible on a real drop even though the fixture
    // never makes one) yield NULL d_stat/threshold/drifted on BOTH
    // engines rather than Spark-null vs DuckDB-inf divergence.
    "q_ks_drift" -> ((s, d) => {
      val ev = Tables(s, d, "events")
        .select(col("event_type"), col("value"),
          unix_micros(col("ts")).as("us"))
      val mid = ev.agg(
        ((min(col("us")) + max(col("us"))) / lit(2L)).cast("long").as("mid"))
      val tagged = ev.crossJoin(broadcast(mid))
        .withColumn("early", (col("us") <= col("mid")).cast("long"))
      val perValue = tagged
        .groupBy(col("event_type"), col("value"))
        .agg(sum(col("early")).as("ca"),
          sum(lit(1L) - col("early")).as("cb"))
      val nPart = s.sparkContext.defaultParallelism
      val parted = perValue
        .repartitionByRange(nPart, col("event_type"), col("value"))
        .withColumn("pid", spark_partition_id())
      val subs = parted.groupBy("pid", "event_type")
        .agg(sum(col("ca")).as("sca"), sum(col("cb")).as("scb"),
          count(lit(1)).as("scnt"))
      val wOff = Window.partitionBy("event_type").orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = subs
        .withColumn("off_a", coalesce(sum(col("sca")).over(wOff), lit(0L)))
        .withColumn("off_b", coalesce(sum(col("scb")).over(wOff), lit(0L)))
        .select("pid", "event_type", "off_a", "off_b", "scnt")
      val tots = subs.groupBy("event_type")
        .agg(sum(col("sca")).as("na"), sum(col("scb")).as("nb"))
      val wCum = Window.partitionBy("pid", "event_type").orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wCnt = Window.partitionBy("pid", "event_type")
      parted
        .join(broadcast(offs), Seq("pid", "event_type"))
        .join(broadcast(tots), Seq("event_type"))
        .withColumn("chk", assert_true(
          count(lit(1)).over(wCnt) === col("scnt"),
          lit("q_ks_drift: range partitioning drifted between the " +
            "subtotal pass and the cumsum pass")))
        .filter(col("chk").isNull)
        .withColumn("diff", when(col("na") > 0 && col("nb") > 0,
          abs((col("off_a") + sum(col("ca")).over(wCum)).cast("double")
            / col("na")
            - (col("off_b") + sum(col("cb")).over(wCum)).cast("double")
            / col("nb"))))
        .groupBy("event_type")
        .agg(max(col("na")).as("n_early"), max(col("nb")).as("n_late"),
          round(max(col("diff")), 6).as("d_stat"))
        .withColumn("threshold",
          when(col("n_early") > 0 && col("n_late") > 0,
            // cast BEFORE the product: nA*nB overflows long at real scale
            round(lit(1.3581) * sqrt((col("n_early") + col("n_late"))
              .cast("double")
              / (col("n_early").cast("double")
                * col("n_late").cast("double"))), 6)))
        .withColumn("drifted", col("d_stat") > col("threshold"))
        .orderBy("event_type")
    }),

    // ── CUSUM change-point detection (round 10) ──────────────────────
    // Per-event-type change-point scan over the daily volume series —
    // the telemetry question next to q_ks_drift's two-sample test
    // (KS asks "did the distribution drift between halves"; CUSUM asks
    // WHEN the level shifted): cumulative sum of deviations from the
    // series mean, change point = the day of maximum |cusum|. ALL
    // series math is exact integers (the q_pagerank lesson): deviation
    // rides scaled by n_days (cnt*n_days − total), so the cumulative
    // sum never touches a float — windowed float cumsums are NOT
    // engine-portable (DuckDB's segment-tree window sums add in a
    // different order than Spark's sequential frame). The statistic
    // max|cusum|/n_days² (mean-normalized per day) and its 2·sqrt(mean)
    // Poisson-style threshold derive once from exact longs with one
    // fixed double expression. One (type, day) agg + one type-keyed
    // window over O(days) rows per type — nothing scales with raw
    // event volume past the first agg.
    "q_changepoint_cusum" -> ((s, d) => {
      val daily = Tables(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val tots = daily.groupBy("event_type")
        .agg(sum(col("cnt")).as("total"), count(lit(1)).as("n_days"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cus = daily.join(tots, "event_type")
        .withColumn("dev", col("cnt") * col("n_days") - col("total"))
        .withColumn("cusum", sum(col("dev")).over(w))
      val wMax = Window.partitionBy("event_type")
        .orderBy(abs(col("cusum")).desc, col("day").asc)
      cus.withColumn("rk", row_number().over(wMax))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("n_days"), col("total"),
          date_format(col("day"), "yyyy-MM-dd").as("cp_day"),
          round(abs(col("cusum")).cast("double")
            / (col("n_days").cast("double") * col("n_days")), 4)
            .as("cusum_stat"),
          (abs(col("cusum")).cast("double")
            / (col("n_days").cast("double") * col("n_days"))
            >= lit(2.0) * sqrt(col("total").cast("double") / col("n_days")))
            .as("changed"))
        .orderBy("event_type")
    }),

    // ── A/B experiment readout (round 10) ─────────────────────────────
    // The two-sample significance test next to q_ks_drift's
    // distribution-drift test — the readout every data/product team runs
    // before acting on an experiment: deterministic 50/50 variant
    // assignment by the portable h60(user_id) gate (reproducible across
    // runs/engines/repartitioning, the q_train_val_split property — a
    // user can never switch arms), then BOTH canonical metrics in one
    // row: a two-proportion z on a conversion predicate (>= 14 purchases
    // — the fixture's per-user median, so the rate genuinely splits) and
    // a Welch z on per-user total purchase value. Determinism: per-user
    // totals and per-variant moments ride exact decimal sums (the
    // q_outlier_zscore scheme), every divide/sqrt then runs the SAME
    // IEEE double expression shape on both engines, and the 1.96 gates
    // cut on 6dp-rounded values. Scale shape: one user_id-keyed
    // two-phase agg over the raw events, one 2-row agg on the
    // O(users) frame, and a 1-row x 1-row join — nothing wider than the
    // user key ever shuffles, and the test statistics are O(1) rows
    // regardless of corpus size.
    "q_abtest_ztest" -> ((s, d) => {
      val dec = col("value").cast("decimal(12,2)")
      val users = Tables(s, d, "events")
        .groupBy("user_id")
        .agg(
          sum((col("event_type") === "purchase").cast("long")).as("np"),
          round(sum(when(col("event_type") === "purchase", dec)
            .otherwise(lit(0).cast("decimal(12,2)"))), 2)
            .cast("double").as("pv"))
        .withColumn("variant",
          when(pmod(h60(col("user_id")), lit(2)) === 0,
            "A").otherwise("B"))
        .withColumn("converted", (col("np") >= 14).cast("long"))
      val pvDec = col("pv").cast("decimal(12,2)")
      val byV = users.groupBy("variant").agg(
        count(lit(1)).as("n"),
        sum(col("converted")).as("conv"),
        round(sum(pvDec), 2).cast("double").as("sx"),
        round(sum(pvDec * pvDec), 4).cast("double").as("sxx"))
      // Round-17 (guide §2.4): the old filter(A)/filter(B) + crossJoin
      // pushed a DIFFERENT variant predicate below each branch's
      // aggregation exchange, so the two branches were not
      // stage-reusable and the events scan + user agg executed TWICE.
      // One conditional-max pivot over the 2-row byV frame computes the
      // identical (n/conv/sx/sxx per arm) row from a single execution.
      def arm(v: String, c: String) =
        max(when(col("variant") === v, col(c)))
      val ab = byV.agg(
        arm("A", "n").as("n_a"), arm("A", "conv").as("conv_a"),
        arm("A", "sx").as("sx_a"), arm("A", "sxx").as("sxx_a"),
        arm("B", "n").as("n_b"), arm("B", "conv").as("conv_b"),
        arm("B", "sx").as("sx_b"), arm("B", "sxx").as("sxx_b"))
      val r1 = col("conv_a").cast("double") / col("n_a")
      val r2 = col("conv_b").cast("double") / col("n_b")
      val pp = (col("conv_a") + col("conv_b")).cast("double") /
        (col("n_a") + col("n_b"))
      val zRate = (r1 - r2) / sqrt(pp * (lit(1.0) - pp) *
        (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
      val m1 = col("sx_a") / col("n_a")
      val m2 = col("sx_b") / col("n_b")
      // Unbiased sample variance (n-1), the canonical Welch denominator
      // (round-10 advice: the population-moment form slightly deflated
      // z). Shape mirrored verbatim in the SQL twin.
      val v1 = (col("sxx_a") - m1 * col("sx_a")) / (col("n_a") - lit(1))
      val v2 = (col("sxx_b") - m2 * col("sx_b")) / (col("n_b") - lit(1))
      val zMean = (m1 - m2) /
        sqrt(v1 / col("n_a") + v2 / col("n_b"))
      ab
        .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
          round(r1, 6).as("rate_a"), round(r2, 6).as("rate_b"),
          round(zRate, 6).as("z_rate"),
          round(m1, 6).as("mean_a"), round(m2, 6).as("mean_b"),
          round(zMean, 6).as("z_mean"))
        .withColumn("sig_rate", abs(col("z_rate")) >= 1.96)
        .withColumn("sig_mean", abs(col("z_mean")) >= 1.96)
    }),

    // ── Declarative data-quality expectations (round 10) ─────────────
    // The dbt-test / Great-Expectations contract as one operator: a
    // fixed rule suite over the live tables — per rule, how many rows
    // violate it and whether the gate holds. Rules cover the four
    // families every warehouse audit runs: referential integrity
    // (orders.o_custkey resolves in customer — LEFT ANTI, the scale
    // shape: the violation count is the join's output size, never a
    // row-by-row EXISTS), uniqueness (o_orderkey single-occupancy via
    // one key-agg), domain/range (status in its enum, totalprice > 0,
    // orderdate inside the business window — map-side filters), and
    // completeness (non-null keys). Each rule is one scan or one
    // key-keyed agg; the report is O(rules) rows at any scale, and a
    // failing gate names its rule instead of poisoning downstream ops
    // silently (the R5 dead-letter philosophy applied to batch QA).
    "q_dq_expectations" -> ((s, d) => {
      val o = Tables(s, d, "orders")
      val c = Tables(s, d, "customer")
      def rule(idx: Long, name: String, violations: Column,
          df: org.apache.spark.sql.DataFrame) =
        df.agg(coalesce(violations, lit(0L)).cast("long").as("n_violations"))
          .select(lit(idx).as("rule_idx"), lit(name).as("rule"),
            col("n_violations"),
            (col("n_violations") === 0).as("pass"))
      // Round-17 (guide §2.3/§2.4): the five map-side rules (3-7) are
      // conditional sums over the SAME orders scan — fused into ONE
      // aggregate pass (the q_profile_nulls pattern), so orders is read
      // three times total (anti join, key agg, fused rule scan) instead
      // of seven. Row output identical: each rule row projects its own
      // counter off the shared 1-row agg.
      val fused = o.agg(
        sum((!col("o_orderstatus").isin("F", "O", "P")).cast("long"))
          .as("v3"),
        sum((col("o_totalprice") <= 0).cast("long")).as("v4"),
        sum((col("o_orderdate") < lit("1990-01-01").cast("timestamp_ntz") ||
          col("o_orderdate") >= lit("2010-01-01").cast("timestamp_ntz"))
          .cast("long")).as("v5"),
        sum(col("o_custkey").isNull.cast("long")).as("v6"),
        // deliberately tight cap the fixture genuinely violates — a QA
        // suite where every rule passes proves nothing about counting
        sum((col("o_totalprice") > 400000).cast("long")).as("v7"))
      def fusedRule(idx: Long, name: String, v: String) =
        fused.select(lit(idx).as("rule_idx"), lit(name).as("rule"),
          coalesce(col(v), lit(0L)).cast("long").as("n_violations"),
          (coalesce(col(v), lit(0L)) === 0).as("pass"))
      rule(1L, "orders_custkey_resolves",
          count(lit(1)),
          o.join(c, o("o_custkey") === c("c_custkey"), "left_anti"))
        .unionByName(rule(2L, "orderkey_unique",
          sum(when(col("n") > 1, col("n")).otherwise(lit(0L))),
          o.groupBy("o_orderkey").agg(count(lit(1)).as("n"))))
        .unionByName(fusedRule(3L, "status_in_domain", "v3"))
        .unionByName(fusedRule(4L, "totalprice_positive", "v4"))
        .unionByName(fusedRule(5L, "orderdate_in_window", "v5"))
        .unionByName(fusedRule(6L, "custkey_not_null", "v6"))
        .unionByName(fusedRule(7L, "totalprice_below_cap", "v7"))
        .orderBy("rule_idx")
    }),

    // ── RFM customer segmentation (round 10) ─────────────────────────
    // Recency / Frequency / Monetary quintile scoring — the classic
    // customer-value segmentation (and the tabular twin of the corpus
    // quality gates: score each entity against corpus-adaptive
    // distribution cuts). The quintile boundaries are EXACT p20/p40/
    // p60/p80 per metric from the shared exactTypeQuantiles machinery
    // (q_winsorize's two-pass range-partitioned rank shape — never a
    // one-task ntile over the whole customer base, which is how this
    // op is usually written and exactly what dies at scale): the three
    // metrics unpivot into (metric, value, custkey) rows so ONE
    // quantile pass covers all of them. Scores then come from a
    // 12-value broadcast threshold row via CASE steps — map-side, so
    // the whole operator is one o_custkey agg + the quantile pass +
    // a stateless scoring projection. Determinism: recency/frequency
    // are exact ints, monetary an exact 2dp decimal sum, thresholds
    // 4dp-rounded (the proven quantile_cont parity), so every > cut
    // is engine-identical.
    "q_rfm_segments" -> ((s, d) => {
      val o = Tables(s, d, "orders")
      val mx = o.agg(max(to_date(col("o_orderdate"))).as("mxd"))
      val cust = o.groupBy("o_custkey")
        .agg(max(to_date(col("o_orderdate"))).as("lastd"),
          count(lit(1)).as("frequency"),
          round(sum(col("o_totalprice").cast("decimal(12,2)")), 2)
            .cast("double").as("monetary"))
        .crossJoin(broadcast(mx))
        .withColumn("recency_days",
          datediff(col("mxd"), col("lastd")).cast("long"))
        .drop("mxd", "lastd")
      // Round-17 (guide §2.4): one explode-unpivot replaces the 3-way
      // union of the SAME customer-agg subtree — the metric rows ride a
      // single read of cust instead of three union branches each
      // re-running the post-exchange final aggregate.
      val unpiv = cust.select(col("o_custkey").as("id"), explode(array(
          struct(lit("recency").as("event_type"),
            col("recency_days").cast("double").as("value")),
          struct(lit("freq").as("event_type"),
            col("frequency").cast("double").as("value")),
          struct(lit("monetary").as("event_type"),
            col("monetary").as("value")))).as("mv"))
        .select(col("mv.event_type").as("event_type"),
          col("mv.value").as("value"), col("id"))
      val th = exactTypeQuantiles(s, unpiv,
        Seq(0.2 -> "p20", 0.4 -> "p40", 0.6 -> "p60", 0.8 -> "p80"),
        "q_rfm_segments")
      val aggs = for (m <- Seq("recency", "freq", "monetary");
                      p <- Seq("p20", "p40", "p60", "p80"))
        yield max(when(col("event_type") === m, col(p))).as(s"${m}_$p")
      val thRow = th.agg(aggs.head, aggs.tail: _*)
      def steps(v: Column, m: String): Column =
        lit(1) + (v > col(s"${m}_p20")).cast("int") +
          (v > col(s"${m}_p40")).cast("int") +
          (v > col(s"${m}_p60")).cast("int") +
          (v > col(s"${m}_p80")).cast("int")
      cust.crossJoin(broadcast(thRow))
        .withColumn("r_score", (lit(6) -
          steps(col("recency_days").cast("double"), "recency"))
          .cast("long"))
        .withColumn("f_score",
          steps(col("frequency").cast("double"), "freq").cast("long"))
        .withColumn("m_score",
          steps(col("monetary"), "monetary").cast("long"))
        .select(col("o_custkey"), col("recency_days"), col("frequency"),
          col("monetary"), col("r_score"), col("f_score"), col("m_score"),
          (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
            .as("rfm"))
        .orderBy("o_custkey")
    }),

    // ── Shard assignment (corpus shuffle for training export) ────────
    // The step between curation and training: give every document a
    // reproducible pseudo-random position — shard = hash mod N (scale-
    // right: no global row_number), within-shard order = the hash
    // itself — so any worker can re-derive its shard deterministically
    // and the interleave de-clusters sources/near-neighbors. Output is
    // the per-shard manifest (counts, per-source spread, hash range);
    // the shard column is what a writer would partitionBy. One shuffle
    // keyed on shard; source spread via count(distinct). The h60-order
    // "shuffle" is exactly q_sample_hash's portable hash, so sampling,
    // splits, and shard layout all derive from ONE document identity.
    // ── Shard EXPORT (round 7) — the sink side of q_shard_assign ─────
    // q_shard_assign decides the manifest; this one WRITES the corpus as
    // a shard-partitioned layout (content-addressed + atomically
    // published like every physical copy, FixtureLayout), then reads the
    // WRITTEN FILES back and emits the per-shard manifest from them. The
    // oracle computes the same manifest from the live table, so the hash
    // match proves every document landed in exactly one shard file and
    // survived the write→read round trip — the export equivalent of the
    // q_source_* ingest proofs. The pre-write repartition is keyed ON
    // shard so each shard's rows arrive at one task and each shard dir
    // gets ONE file (SourcesSpec pins 16 dirs, 1 data file each) — the
    // dynamic-partition write otherwise sprays |tasks|x|shards| small
    // files, the classic training-export killer. At 100 TB: same plan
    // with repartition(shards*filesPerShard, shard, salt) plus
    // maxRecordsPerFile to bound file sizes; consumers then read shard
    // dirs independently with no re-bucketing shuffle at training time.
    "q_export_shards" -> ((s, d) => {
      val n = 16
      val tag = FixtureLayout.contentTag(d, Seq("documents"))
      val dest = FixtureLayout.ensureManifested(
        s"${System.getProperty("java.io.tmpdir")}/graft_src_$tag/documents_shards") {
        staging =>
          Tables(s, d, "documents")
            .withColumn("shard",
              pmod(h60(col("doc_id")), lit(n)))
            .repartition(col("shard"))
            .write.partitionBy("shard").parquet(staging)
      }
      // Readers trust the manifest, not a directory listing: only files
      // the commit point published are visible (exactly-once read side).
      val (vroot, files) = FixtureLayout.manifestedFiles(dest)
      val data = files.filter(_.endsWith(".parquet"))
      s.read.option("basePath", vroot).parquet(data: _*)
        // partition-column inference reads shard back as int; the
        // manifest column is long on both engines
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy("shard")
    }),

    "q_shard_assign" -> ((s, d) => {
      val n = 16
      val h = h60(col("doc_id"))
      Tables(s, d, "documents")
        .withColumn("shard", pmod(h, lit(n)))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          min(h).as("h_min"), max(h).as("h_max"))
        .orderBy("shard")
    }),

    // ── Incremental corpus statistics (round 10) ─────────────────────
    // Materialized-view maintenance for corpus bookkeeping — the batch
    // twin of the streaming running counters and the aggregate sibling
    // of q_dedup_incremental's persisted index: per-source ALGEBRAIC
    // partials (count / sum-chars / sum-whitespace-tokens, all
    // mergeable) over the existing corpus are computed ONCE and
    // persisted content-addressed (FixtureLayout: regenerated fixture ⇒
    // new tag ⇒ rebuild); every new drop (doc_id % 10 = 3) pays
    // O(drop) to aggregate itself plus an O(sources)-row merge. The
    // corpus is re-scanned zero times per refresh (CurationSpec plan
    // pin); derived ratios (avg_chars) are computed AFTER the merge, as
    // algebraic-aggregate maintenance requires. At 100 TB: the partial
    // table is O(sources) rows — corpus stats stay a dashboard query,
    // not a corpus scan; the same shape maintains any sum/count/min/max
    // family (token totals for mixture design, char budgets, etc).
    "q_stats_incremental" -> ((s, d) => {
      val isNew = col("doc_id") % 10 === 3
      val tag = FixtureLayout.contentTag(d, Seq("documents"))
      def partials(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      val path = FixtureLayout.ensureDir(
        s"${System.getProperty("java.io.tmpdir")}/graft_statsidx_$tag/source_partials") {
        staging =>
          partials(Tables(s, d, "documents").filter(!isNew))
            .coalesce(1).write.parquet(staging)
      }
      s.read.parquet(path)
        .unionByName(partials(Tables(s, d, "documents").filter(isNew)))
        .groupBy("source")
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("sum_chars")).as("sum_chars"),
          sum(col("n_tokens")).as("n_tokens"))
        .withColumn("avg_chars",
          round(col("sum_chars").cast("double") / col("n_docs"), 6))
        .orderBy("source")
    }),

    // ── Incremental distinct counts via mergeable HLL sketches ────────
    // Round 10: the sketch-partial materialized view — per-event-type
    // DISTINCT-user counts maintained without ever recounting the
    // corpus. q_stats_incremental handles ALGEBRAIC partials (count/
    // sum); distinct is the canonical aggregate that has no algebraic
    // partial, so this is the missing class: Datasketches HLL partials
    // (lgK=12, ~2.5 KB each) persisted once content-addressed, each
    // refresh sketches only the new drop (event_id % 10 = 3) and merges
    // O(types) sketch rows. HLL union at equal lgK is LOSSLESS: the
    // merged estimate is bit-identical to sketching the whole table in
    // one pass (CurationSpec pins the equality, plus <2% error vs exact
    // distinct, plus the drop-only-scan plan). At 100 TB this is how
    // per-day/per-source distinct dashboards stay O(drop) per refresh;
    // the same stored sketches answer any OR-combination of slices via
    // further unions, which exact counters cannot.
    "q_distinct_incremental" -> ((s, d) => {
      val isNew = col("event_id") % 10 === 3
      val tag = FixtureLayout.contentTag(d, Seq("events"))
      def sketch(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("event_type")
          .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sketch"))
      val path = FixtureLayout.ensureDir(
        s"${System.getProperty("java.io.tmpdir")}/graft_hllidx_$tag/user_sketches") {
        staging =>
          sketch(Tables(s, d, "events").filter(!isNew))
            .coalesce(1).write.parquet(staging)
      }
      s.read.parquet(path)
        .unionByName(sketch(Tables(s, d, "events").filter(isNew)))
        .groupBy("event_type")
        .agg(hll_union_agg(col("sketch"), lit(false)).as("merged"))
        .select(col("event_type"),
          hll_sketch_estimate(col("merged")).as("est_users"))
        .orderBy("event_type")
    }),

    // ── Incremental novelty ───────────────────────────────────────────
    // Round 10: q_ngram_novelty's production form — novelty of a NEW
    // drop (doc_id % 10 = 3) against a PERSISTED corpus shingle set,
    // the question an incremental pipeline actually asks ("how much of
    // this crawl is new?") without touching the corpus. The corpus-side
    // DISTINCT shingle set is materialized once, content-addressed and
    // bucketed on the 8-byte hash (FixtureLayout); each drop then pays
    // O(drop): sketch the drop with the same fused shingle kernel,
    // LEFT ANTI join its shingles against the stored set (the bucketed
    // side arrives pre-hashed — no shuffle on the stored side), then
    // first-seen-within-drop min + per-doc counts. Corpus re-scanned
    // ZERO times per refresh (CurationSpec plan pin). "First" here is
    // corpus-BEFORE-drop (the corpus is older by construction), then
    // min doc_id inside the drop — so a drop doc's novel count is
    // always <= its batch q_ngram_novelty count (CurationSpec pins the
    // containment).
    "q_novelty_incremental" -> ((s, d) => {
      val isNew = col("doc_id") % 10 === 3
      val tag = FixtureLayout.contentTag(d, Seq("documents"))
      val base =
        s"${System.getProperty("java.io.tmpdir")}/graft_novidx_$tag"
      val stored = FixtureLayout.ensureBucketedTable(s,
        s"graft_novidx_${tag}_sh", s"$base/sh", "s", 8) {
        Tables(s, d, "documents").filter(!isNew)
          .select(explode(graft.functions.ShingleHash60(s, col("text"), 3,
            distinct = true)).as("s"))
          .distinct()
      }
      // eager: one sketch pass feeds counts + anti-join
      val dropSh = persistEager(Tables(s, d, "documents")
        .filter(isNew)
        .select(col("doc_id"),
          explode(graft.functions.ShingleHash60(s, col("text"), 3,
            distinct = true)).as("s")))
      val perDoc = dropSh.groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"))
      val novel = dropSh.join(stored, Seq("s"), "left_anti")
        .groupBy("s").agg(min("doc_id").as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("nn"))
      perDoc.join(novel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("nn"), lit(0L)).as("n_novel"),
          round(coalesce(col("nn"), lit(0L)).cast("double")
            / col("n_shingles"), 6).as("novelty"))
        .orderBy("doc_id")
    }),

    // ── Token entropy per source ──────────────────────────────────────
    // Shannon entropy of each source's unigram distribution (nats) —
    // low entropy flags templated/boilerplate sources, and the number
    // feeds mixture design next to q_domain_mix. Same determinism
    // scheme as q_unigram_logprob: each term is cnt * 9dp-rounded
    // ln(tot/cnt) cast to exact decimal BEFORE the order-independent
    // sum; the 1-per-source totals broadcast. Two token-keyed two-phase
    // aggs — never a collect.
    "q_entropy_per_source" -> ((s, d) => {
      val toks = Tables(s, d, "documents")
        .select(col("source"),
          explode(split(lower(col("text")), " ")).as("token"))
        .filter(col("token") =!= "")
      val cnt = toks.groupBy("source", "token")
        .agg(count(lit(1)).as("cnt"))
      val tot = cnt.groupBy("source")
        .agg(sum(col("cnt")).as("tot"),
          count(lit(1)).as("n_distinct"))
      cnt.join(broadcast(tot), "source")
        .select(col("source"), col("tot"), col("n_distinct"),
          (col("cnt").cast("decimal(12,0)") *
            round(log(col("tot").cast("double") / col("cnt")), 12)
              .cast("decimal(20,12)")).as("term"))
        .groupBy("source")
        .agg(max(col("tot")).as("n_tokens"),
          max(col("n_distinct")).as("n_distinct"),
          round(sum(col("term")), 6).cast("double").as("total_nats"))
        .select(col("source"), col("n_tokens"), col("n_distinct"),
          round(col("total_nats") / col("n_tokens"), 6).as("entropy"))
        .orderBy("source")
    }),
  )

  val oracle: Map[String, String] = Map(
    "q_decontaminate" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substring(md5(unnest(list_distinct(
        |      [array_to_string(tok[i+1:i+5], ' ')
        |       for i in range(len(tok)-4)]))), 1, 15)) AS BIGINT) AS s
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS tok
        |        FROM documents)),
        |probe AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0),
        |hits AS (
        |  SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
        |  FROM sh JOIN probe USING (s)
        |  WHERE sh.doc_id % 20 <> 0 GROUP BY sh.doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
        |  coalesce(h.n_overlap, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN hits h USING (doc_id)
        |WHERE d.doc_id % 20 <> 0
        |ORDER BY doc_id""".stripMargin,

    "q_pii_redact" ->
      s"""WITH t AS (
         |  SELECT c_custkey,
         |    c_mktsegment || ' contact '
         |      || lower(regexp_replace(c_name, '[^A-Za-z0-9]', '', 'g'))
         |      || '@mail.example phone 555-'
         |      || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
         |      || ' ref ' || c_name AS contact
         |  FROM customer)
         |SELECT c_custkey,
         |  CAST(len(regexp_extract_all(contact, '$emailRe')) AS BIGINT)
         |    AS n_emails,
         |  CAST(len(regexp_extract_all(contact, '$phoneRe')) AS BIGINT)
         |    AS n_phones,
         |  regexp_replace(regexp_replace(contact, '$emailRe', '<EMAIL>', 'g'),
         |    '$phoneRe', '<PHONE>', 'g') AS redacted
         |FROM t ORDER BY c_custkey""".stripMargin,

    "q_k_anonymity" ->
      """WITH b AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000
        |      AS band
        |  FROM customer)
        |SELECT c_nationkey, c_mktsegment,
        |  COUNT(*) AS n,
        |  CAST(COUNT(DISTINCT band) AS BIGINT) AS n_sensitive,
        |  round(1.0 / COUNT(*), 6) AS reident_risk,
        |  COUNT(*) >= 5 AS meets_k,
        |  COUNT(DISTINCT band) >= 3 AS meets_l
        |FROM b
        |GROUP BY c_nationkey, c_mktsegment
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,

    "q_repetition_ratio" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    len(tok) AS n_tok,
        |    len(list_distinct(tok)) AS n_dist_tok,
        |    greatest(len(tok) - 1, 0) AS n_2gram,
        |    len(list_distinct(
        |      [array_to_string(tok[i+1:i+2], ' ')
        |       for i in range(len(tok)-1)])) AS n_dist_2gram
        |  FROM t)
        |SELECT doc_id, n_tok, n_dist_tok, n_2gram, n_dist_2gram,
        |  round(1.0 - CAST(n_dist_tok AS DOUBLE) / n_tok, 6) AS rep_token,
        |  CASE WHEN n_2gram > 0
        |    THEN round(1.0 - CAST(n_dist_2gram AS DOUBLE) / n_2gram, 6)
        |    ELSE 0.0 END AS rep_2gram
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_domain_mix" ->
      s"""WITH per AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_source
         |  FROM documents GROUP BY source),
         |tot AS (SELECT count(*) AS n_total FROM documents),
         |rates AS (
         |  -- CAST the weights to DOUBLE: DuckDB literals are DECIMAL and
         |  -- decimal arithmetic would diverge from Spark's double math.
         |  SELECT source, n_source, n_total,
         |    CASE WHEN CAST(substring(source, 4) AS INT) % 2 = 0
         |      THEN CAST(0.08 AS DOUBLE) ELSE CAST(0.02 AS DOUBLE)
         |      END AS target_w,
         |    CASE WHEN CAST(substring(source, 4) AS INT) % 2 = 0
         |      THEN 800 ELSE 200 END AS w_scaled,
         |    round(least(CAST(1.0 AS DOUBLE),
         |      (CASE WHEN CAST(substring(source, 4) AS INT) % 2 = 0
         |        THEN CAST(0.08 AS DOUBLE) ELSE CAST(0.02 AS DOUBLE) END)
         |      * n_total / n_source), 4) AS rate
         |  FROM per CROSS JOIN tot),
         |kept AS (
         |  -- integer cross-multiplied gate: no double rounding on the
         |  -- comparison boundary (matches the Spark side exactly)
         |  SELECT d.source, CAST(count(*) AS BIGINT) AS n_kept
         |  FROM documents d JOIN rates r ON d.source = r.source
         |  WHERE (${h60Sql("doc_id")} % 10000) * r.n_source
         |        < r.w_scaled * r.n_total
         |  GROUP BY d.source)
         |SELECT r.source, r.n_source, r.target_w, r.rate,
         |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
         |FROM rates r LEFT JOIN kept k USING (source)
         |ORDER BY source""".stripMargin,

    "q_pack_sequences" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, source, n_tok,
        |    CAST(floor((SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
        |      / 2048) AS BIGINT) AS bin
        |  FROM d)
        |SELECT source, bin, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS bin_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM b GROUP BY source, bin
        |ORDER BY source, bin""".stripMargin,

    "q_novelty_incremental" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substring(md5(unnest(list_distinct(
        |      [array_to_string(tok[i+1:i+3], ' ')
        |       for i in range(len(tok)-2)]))), 1, 15)) AS BIGINT) AS s
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS tok
        |        FROM documents)),
        |corpus AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 <> 3),
        |drop_sh AS (SELECT doc_id, s FROM sh WHERE doc_id % 10 = 3),
        |per_doc AS (
        |  SELECT doc_id, COUNT(*) AS n_shingles
        |  FROM drop_sh GROUP BY doc_id),
        |novel AS (
        |  SELECT doc_id, COUNT(*) AS nn
        |  FROM (SELECT d.s, MIN(d.doc_id) AS doc_id
        |        FROM drop_sh d LEFT JOIN corpus c ON c.s = d.s
        |        WHERE c.s IS NULL GROUP BY d.s)
        |  GROUP BY doc_id)
        |SELECT p.doc_id, p.n_shingles,
        |  CAST(COALESCE(n.nn, 0) AS BIGINT) AS n_novel,
        |  round(CAST(COALESCE(n.nn, 0) AS DOUBLE) / p.n_shingles, 6)
        |    AS novelty
        |FROM per_doc p LEFT JOIN novel n ON n.doc_id = p.doc_id
        |ORDER BY p.doc_id""".stripMargin,

    "q_gopher_rules" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tok
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    len(tok) AS n_words,
        |    CAST(list_aggregate(list_transform(tok, x -> length(x)),
        |      'sum') AS BIGINT) AS sum_len,
        |    len(list_filter(tok, x -> regexp_matches(x, '[a-z]')))
        |      AS n_alpha,
        |    CAST(len(list_intersect(list_distinct(tok),
        |      ['the', 'a', 'of', 'and', 'to', 'in'])) AS BIGINT)
        |      AS n_stop_distinct
        |  FROM t),
        |r AS (
        |  SELECT doc_id, n_words,
        |    round(CAST(sum_len AS DOUBLE) / n_words, 4) AS mean_word_len,
        |    round(CAST(n_alpha AS DOUBLE) / n_words, 4) AS frac_alpha,
        |    n_stop_distinct
        |  FROM m)
        |SELECT doc_id, n_words, mean_word_len, frac_alpha, n_stop_distinct,
        |  n_words >= 50 AND n_words <= 100000 AS r_wordcount,
        |  mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS r_meanlen,
        |  frac_alpha >= 0.8 AS r_alpha,
        |  n_stop_distinct >= 2 AS r_stop,
        |  (n_words >= 50 AND n_words <= 100000)
        |    AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
        |    AND frac_alpha >= 0.8 AND n_stop_distinct >= 2 AS gopher_keep
        |FROM r ORDER BY doc_id""".stripMargin,

    "q_outlier_zscore" ->
"""WITH s AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(round(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sx,
        |    CAST(round(SUM(CAST(value AS DECIMAL(12,2))
        |      * CAST(value AS DECIMAL(12,2))), 4) AS DOUBLE) AS sxx
        |  FROM events GROUP BY event_type),
        |z AS (
        |  SELECT e.event_id, e.event_type, e.value,
        |    s.sx / s.n AS mean,
        |    sqrt(s.sxx / s.n - (s.sx / s.n) * (s.sx / s.n)) AS std
        |  FROM events e JOIN s USING (event_type))
        |SELECT event_id, event_type, value,
        |  round(mean, 6) AS mean,
        |  -- zero-variance guard matches the Spark side: NULL z, row
        |  -- dropped by the filter on both engines (never inf/nan here)
        |  CASE WHEN std > 0 THEN round((value - mean) / std, 4) END AS z
        |FROM z
        |WHERE abs(CASE WHEN std > 0
        |            THEN round((value - mean) / std, 4) END) >= 3.0
        |ORDER BY event_id""".stripMargin,

    "q_winsorize" ->
      """WITH s AS (
        |  SELECT event_type,
        |    round(quantile_cont(value, 0.01), 4) AS p01,
        |    round(quantile_cont(value, 0.99), 4) AS p99
        |  FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type, e.value, s.p01, s.p99,
        |  least(greatest(e.value, s.p01), s.p99) AS clipped
        |FROM events e JOIN s USING (event_type)
        |ORDER BY event_id""".stripMargin,

    "q_anomaly_mad" ->
      """WITH med AS (
        |  SELECT event_type, round(quantile_cont(value, 0.5), 4) AS med
        |  FROM events GROUP BY event_type),
        |mad AS (
        |  SELECT e.event_type,
        |    round(quantile_cont(abs(e.value - m.med), 0.5), 4) AS mad
        |  FROM events e JOIN med m USING (event_type)
        |  GROUP BY e.event_type),
        |z AS (
        |  SELECT e.event_id, e.event_type, e.value, m.med, d.mad,
        |    CASE WHEN d.mad > 0
        |      THEN CAST(0.6745 AS DOUBLE) * (e.value - m.med) / d.mad
        |    END AS rob_z
        |  FROM events e JOIN med m USING (event_type)
        |                JOIN mad d USING (event_type))
        |SELECT event_id, event_type, value, med, mad, rob_z,
        |  CASE WHEN rob_z IS NOT NULL THEN abs(rob_z) >= 3.5 END
        |    AS is_outlier
        |FROM z ORDER BY event_id""".stripMargin,

    "q_ks_drift" ->
      """WITH ev AS (
        |  SELECT event_type, value, epoch_us(ts) AS us FROM events),
        |m AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
        |pv AS (
        |  SELECT event_type, value,
        |    SUM(CASE WHEN us <= m.mid THEN 1 ELSE 0 END) AS ca,
        |    SUM(CASE WHEN us <= m.mid THEN 0 ELSE 1 END) AS cb
        |  FROM ev CROSS JOIN m GROUP BY event_type, value),
        |c AS (
        |  SELECT event_type,
        |    SUM(ca) OVER (PARTITION BY event_type) AS na,
        |    SUM(cb) OVER (PARTITION BY event_type) AS nb,
        |    CASE WHEN SUM(ca) OVER (PARTITION BY event_type) > 0
        |          AND SUM(cb) OVER (PARTITION BY event_type) > 0 THEN
        |      abs(CAST(SUM(ca) OVER w AS DOUBLE)
        |            / SUM(ca) OVER (PARTITION BY event_type)
        |          - CAST(SUM(cb) OVER w AS DOUBLE)
        |            / SUM(cb) OVER (PARTITION BY event_type)) END AS diff
        |  FROM pv
        |  WINDOW w AS (PARTITION BY event_type ORDER BY value
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_type,
        |  CAST(max(na) AS BIGINT) AS n_early,
        |  CAST(max(nb) AS BIGINT) AS n_late,
        |  round(max(diff), 6) AS d_stat,
        |  CASE WHEN max(na) > 0 AND max(nb) > 0 THEN
        |    round(1.3581 * sqrt(CAST(max(na) + max(nb) AS DOUBLE)
        |      / (CAST(max(na) AS DOUBLE) * CAST(max(nb) AS DOUBLE))), 6)
        |    END AS threshold,
        |  round(max(diff), 6) >
        |    CASE WHEN max(na) > 0 AND max(nb) > 0 THEN
        |      round(1.3581 * sqrt(CAST(max(na) + max(nb) AS DOUBLE)
        |        / (CAST(max(na) AS DOUBLE) * CAST(max(nb) AS DOUBLE))), 6)
        |      END AS drifted
        |FROM c GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q_changepoint_cusum" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |tots AS (
        |  SELECT event_type, SUM(cnt) AS total, COUNT(*) AS n_days
        |  FROM daily GROUP BY 1),
        |cus AS (
        |  SELECT d.event_type, d.day, t.n_days, t.total,
        |    SUM(d.cnt * t.n_days - t.total) OVER (
        |      PARTITION BY d.event_type ORDER BY d.day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
        |  FROM daily d JOIN tots t USING (event_type)),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY abs(cusum) DESC, day ASC) AS rk
        |  FROM cus)
        |SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
        |  CAST(total AS BIGINT) AS total,
        |  strftime(day, '%Y-%m-%d') AS cp_day,
        |  round(CAST(abs(cusum) AS DOUBLE)
        |        / (CAST(n_days AS DOUBLE) * n_days), 4) AS cusum_stat,
        |  CAST(abs(cusum) AS DOUBLE)
        |    / (CAST(n_days AS DOUBLE) * n_days)
        |    >= 2.0 * sqrt(CAST(total AS DOUBLE) / n_days) AS changed
        |FROM ranked WHERE rk = 1
        |ORDER BY event_type""".stripMargin,

    "q_abtest_ztest" ->
      s"""WITH u AS (
         |  SELECT user_id,
         |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np,
         |    CAST(ROUND(SUM(CASE WHEN event_type = 'purchase'
         |        THEN CAST(value AS DECIMAL(12,2))
         |        ELSE CAST(0 AS DECIMAL(12,2)) END), 2) AS DOUBLE) AS pv
         |  FROM events GROUP BY user_id),
         |v AS (
         |  SELECT CASE WHEN ${h60Sql("user_id")} % 2 = 0
         |           THEN 'A' ELSE 'B' END AS variant,
         |    CASE WHEN np >= 14 THEN 1 ELSE 0 END AS converted, pv
         |  FROM u),
         |ab AS (
         |  SELECT variant, COUNT(*) AS n, SUM(converted) AS conv,
         |    CAST(ROUND(SUM(CAST(pv AS DECIMAL(12,2))), 2) AS DOUBLE) AS sx,
         |    CAST(ROUND(SUM(CAST(pv AS DECIMAL(12,2))
         |      * CAST(pv AS DECIMAL(12,2))), 4) AS DOUBLE) AS sxx
         |  FROM v GROUP BY variant),
         |j AS (
         |  SELECT a.n AS n_a, a.conv AS conv_a, b.n AS n_b,
         |    b.conv AS conv_b, a.sx AS sx_a, a.sxx AS sxx_a,
         |    b.sx AS sx_b, b.sxx AS sxx_b
         |  FROM (SELECT * FROM ab WHERE variant = 'A') a
         |  CROSS JOIN (SELECT * FROM ab WHERE variant = 'B') b),
         |z AS (
         |  SELECT CAST(n_a AS BIGINT) AS n_a,
         |    CAST(conv_a AS BIGINT) AS conv_a,
         |    CAST(n_b AS BIGINT) AS n_b,
         |    CAST(conv_b AS BIGINT) AS conv_b,
         |    round(CAST(conv_a AS DOUBLE) / n_a, 6) AS rate_a,
         |    round(CAST(conv_b AS DOUBLE) / n_b, 6) AS rate_b,
         |    round((CAST(conv_a AS DOUBLE) / n_a
         |           - CAST(conv_b AS DOUBLE) / n_b)
         |      / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
         |        * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
         |        * (1.0 / n_a + 1.0 / n_b)), 6) AS z_rate,
         |    round(sx_a / n_a, 6) AS mean_a,
         |    round(sx_b / n_b, 6) AS mean_b,
         |    round((sx_a / n_a - sx_b / n_b)
         |      / sqrt(((sxx_a - (sx_a / n_a) * sx_a) / (n_a - 1)) / n_a
         |           + ((sxx_b - (sx_b / n_b) * sx_b) / (n_b - 1)) / n_b),
         |      6) AS z_mean
         |  FROM j)
         |SELECT *, abs(z_rate) >= 1.96 AS sig_rate,
         |  abs(z_mean) >= 1.96 AS sig_mean
         |FROM z""".stripMargin,

    "q_dq_expectations" ->
      """WITH r1 AS (
        |  SELECT COUNT(*) AS v FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                    WHERE c.c_custkey = o.o_custkey)),
        |r2 AS (
        |  SELECT COALESCE(SUM(CASE WHEN n > 1 THEN n ELSE 0 END), 0) AS v
        |  FROM (SELECT o_orderkey, COUNT(*) AS n
        |        FROM orders GROUP BY o_orderkey)),
        |r3 AS (
        |  SELECT SUM(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
        |             THEN 1 ELSE 0 END) AS v FROM orders),
        |r4 AS (
        |  SELECT SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS v
        |  FROM orders),
        |r5 AS (
        |  SELECT SUM(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
        |               OR o_orderdate >= TIMESTAMP '2010-01-01'
        |             THEN 1 ELSE 0 END) AS v FROM orders),
        |r6 AS (
        |  SELECT SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v
        |  FROM orders)
        |SELECT rule_idx, rule, n_violations, n_violations = 0 AS pass
        |FROM (
        |  SELECT CAST(1 AS BIGINT) AS rule_idx,
        |    'orders_custkey_resolves' AS rule,
        |    CAST((SELECT v FROM r1) AS BIGINT) AS n_violations
        |  UNION ALL SELECT 2, 'orderkey_unique',
        |    CAST((SELECT v FROM r2) AS BIGINT)
        |  UNION ALL SELECT 3, 'status_in_domain',
        |    CAST((SELECT v FROM r3) AS BIGINT)
        |  UNION ALL SELECT 4, 'totalprice_positive',
        |    CAST((SELECT v FROM r4) AS BIGINT)
        |  UNION ALL SELECT 5, 'orderdate_in_window',
        |    CAST((SELECT v FROM r5) AS BIGINT)
        |  UNION ALL SELECT 6, 'custkey_not_null',
        |    CAST((SELECT v FROM r6) AS BIGINT)
        |  UNION ALL SELECT 7, 'totalprice_below_cap',
        |    CAST((SELECT SUM(CASE WHEN o_totalprice > 400000
        |                     THEN 1 ELSE 0 END) FROM orders) AS BIGINT))
        |ORDER BY rule_idx""".stripMargin,

    "q_rfm_segments" -> {
      val pivotCols = (for (m <- Seq("recency", "freq", "monetary");
                            p <- Seq("p20", "p40", "p60", "p80"))
        yield s"MAX(CASE WHEN m = '$m' THEN $p END) AS ${m}_$p")
        .mkString(",\n    ")
      def steps(v: String, m: String) =
        s"""1 + (CASE WHEN $v > ${m}_p20 THEN 1 ELSE 0 END)
           |      + (CASE WHEN $v > ${m}_p40 THEN 1 ELSE 0 END)
           |      + (CASE WHEN $v > ${m}_p60 THEN 1 ELSE 0 END)
           |      + (CASE WHEN $v > ${m}_p80 THEN 1 ELSE 0 END)""".stripMargin
      s"""WITH mx AS (
         |  SELECT CAST(max(o_orderdate) AS DATE) AS mxd FROM orders),
         |cust AS (
         |  SELECT o_custkey,
         |    date_diff('day', CAST(max(o_orderdate) AS DATE), mx.mxd)
         |      AS recency_days,
         |    COUNT(*) AS frequency,
         |    CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2)
         |         AS DOUBLE) AS monetary
         |  FROM orders CROSS JOIN mx GROUP BY o_custkey, mx.mxd),
         |unp AS (
         |  SELECT 'recency' AS m, CAST(recency_days AS DOUBLE) AS v
         |  FROM cust
         |  UNION ALL SELECT 'freq', CAST(frequency AS DOUBLE) FROM cust
         |  UNION ALL SELECT 'monetary', monetary FROM cust),
         |th AS (
         |  SELECT m,
         |    round(quantile_cont(v, 0.2), 4) AS p20,
         |    round(quantile_cont(v, 0.4), 4) AS p40,
         |    round(quantile_cont(v, 0.6), 4) AS p60,
         |    round(quantile_cont(v, 0.8), 4) AS p80
         |  FROM unp GROUP BY m),
         |t AS (
         |  SELECT
         |    $pivotCols
         |  FROM th),
         |scored AS (
         |  SELECT c.o_custkey,
         |    CAST(c.recency_days AS BIGINT) AS recency_days,
         |    CAST(c.frequency AS BIGINT) AS frequency, c.monetary,
         |    CAST(6 - (${steps("CAST(c.recency_days AS DOUBLE)", "recency")})
         |         AS BIGINT) AS r_score,
         |    CAST(${steps("CAST(c.frequency AS DOUBLE)", "freq")}
         |         AS BIGINT) AS f_score,
         |    CAST(${steps("c.monetary", "monetary")}
         |         AS BIGINT) AS m_score
         |  FROM cust c CROSS JOIN t)
         |SELECT *, r_score * 100 + f_score * 10 + m_score AS rfm
         |FROM scored
         |ORDER BY o_custkey""".stripMargin
    },

    "q_shard_assign" ->
      s"""SELECT ${h60Sql("doc_id")} % 16 AS shard,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |  min(${h60Sql("doc_id")}) AS h_min,
         |  max(${h60Sql("doc_id")}) AS h_max
         |FROM documents
         |GROUP BY shard
         |ORDER BY shard""".stripMargin,

    "q_chunk_documents" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tok
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, tok, unnest(range(0, len(tok), 40)) AS strt
        |  FROM t)
        |SELECT doc_id,
        |  CAST(strt // 40 AS BIGINT) AS chunk_idx,
        |  CAST(len(list_slice(tok, strt + 1, strt + 50)) AS BIGINT)
        |    AS n_tokens,
        |  array_to_string(list_slice(tok, strt + 1, strt + 50), ' ')
        |    AS chunk_text
        |FROM s
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    // The partials are physical; the oracle recomputes the SAME stats
    // from the live table in one pass — equality proves the persisted
    // partial + drop merge reconstructs the full-corpus aggregate.
    "q_stats_incremental" ->
      """SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS avg_chars
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin,

    // The layout is physical; the oracle manifest comes from the live
    // table — equality proves the written shards carry every row.
    "q_export_shards" ->
      s"""SELECT ${h60Sql("doc_id")} % 16 AS shard,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources
         |FROM documents
         |GROUP BY shard
         |ORDER BY shard""".stripMargin,

    "q_entropy_per_source" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents),
        |c AS (
        |  SELECT source, token, count(*) AS cnt
        |  FROM toks WHERE token <> '' GROUP BY source, token),
        |t AS (
        |  SELECT source, SUM(cnt) AS tot, count(*) AS n_distinct
        |  FROM c GROUP BY source),
        |terms AS (
        |  SELECT c.source,
        |    CAST(c.cnt AS DECIMAL(12,0)) *
        |    CAST(round(ln(CAST(t.tot AS DOUBLE) / c.cnt), 12)
        |         AS DECIMAL(20,12)) AS term
        |  FROM c JOIN t USING (source)),
        |agg AS (
        |  SELECT s.source,
        |    CAST(max(t.tot) AS BIGINT) AS n_tokens,
        |    CAST(max(t.n_distinct) AS BIGINT) AS n_distinct,
        |    CAST(round(SUM(s.term), 6) AS DOUBLE) AS total_nats
        |  FROM terms s JOIN t USING (source) GROUP BY s.source)
        |SELECT source, n_tokens, n_distinct,
        |  round(total_nats / n_tokens, 6) AS entropy
        |FROM agg ORDER BY source""".stripMargin,
  )
}
