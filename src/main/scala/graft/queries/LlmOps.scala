package graft.queries

import graft.Tables
import graft.functions.GraftExtensions.h60
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.Column

/** LLM-data-pipeline block (BASELINE.json north star): exact dedup, text
  * analysis, cosine similarity, per-probe kNN, approximate distinct.
  *
  * Scale notes (the designs that survive 100 TB):
  *  - dedup is ONE shuffle keyed on the md5 digest + a partition-local
  *    window — never a pairwise self-join;
  *  - token top-k is explode → two-phase hash agg → TakeOrderedAndProject
  *    (agg-then-limit, nothing driver-side);
  *  - similarity is probe-vs-corpus with the (tiny) probe side broadcast:
  *    the corpus streams partition-parallel, cost O(|corpus| * dim), no
  *    all-pairs corpus x corpus product anywhere;
  *  - kNN fans each corpus row out to k broadcast probes (O(k*|corpus|))
  *    and takes per-probe top-k with a window. At true 100 TB the scale
  *    path is bucketed ANN — see AnnOps for the LSH/IVF variant;
  *  - approx distinct is HLL (approx_count_distinct): constant-size
  *    mergeable sketch per partition, no exact-distinct shuffle.
  *
  * Determinism (§7.4): float dot products are accumulated as exact
  * float-by-float products in double, summed in engine-specific order, and
  * rounded to 6dp on both sides; order-then-limit always tie-breaks on ids.
  */
object LlmOps {

  /** Sum of elementwise products of two float vectors, accumulated in
    * double, in array order (codegen'd higher-order functions — no UDF). */
  private def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  val q: Map[String, Q] = Map(
    // Exact dedup by normalized-text hash: digest shuffle + window, keep
    // the lowest doc_id per digest. Scales as a single hash shuffle.
    "q_dedup_exact" -> ((s, d) => {
      // Round-18 re-plan (guide §2.3 "shuffle keys and metadata instead
      // of payloads"): the old digest window shuffled EVERY column —
      // text included — through the digest exchange and then sorted
      // each partition twice (row_number + count frames). The class
      // aggregate shuffles only (digest, doc_id) as a two-phase
      // map-side-partial HashAggregate, and the kept rows' lang/source
      // come back through a doc_id equi-join against the scan — the
      // text payload never crosses an exchange. Same rows: min doc_id
      // per digest IS the rn=1 row of the doc_id-ordered window.
      val docs = Tables(s, d, "documents")
      val cls = docs
        .select(TextOps.digest(col("text")).as("digest"), col("doc_id"))
        .groupBy("digest")
        .agg(min(col("doc_id")).as("doc_id"),
          count(lit(1)).as("n_copies"))
      docs.select(col("doc_id"), col("lang"), col("source"))
        .join(cls, "doc_id")
        .select("doc_id", "digest", "lang", "source", "n_copies")
        .orderBy("doc_id")
    }),

    // ── Dedup dashboard (round 10) ───────────────────────────────────
    // One report frame over the WHOLE dedup family — corpus size, docs
    // lost to exact duplication, near-dup pair counts per detector
    // (jaccard / containment / simhash), duplicate-cluster count, and
    // docs a cluster-canonical pass would drop. This is the number set
    // a pipeline owner reads after every crawl drop; composing it from
    // the individually-proven operators (like q_curation_keep composes
    // the verdict) means the COMPOSITION is hash-checked end-to-end,
    // and the report can never disagree with the operators it
    // summarizes. Each branch keeps its own proven scale shape; the
    // union is seven 1-row frames.
    "q_dedup_report" -> ((s, d) => {
      // Round-17 re-plan (r16 verdict #2 — the one `weak`): the r16
      // report ran every detector on the RAW corpus, so on a
      // replica-heavy drop the exact jaccard/containment pair metrics
      // were output-bound by construction — the 30x-replicated sf3
      // fixture materialized ~900x copy-pairs through the candidate
      // join (421 of the probe's 492 s). Every reported metric is
      // digest-CLASS-invariant: two docs with the same
      // md5(lower(trim(text))) digest have the same lower-text token
      // sequence, hence the same shingle set, simhash signature and
      // minhash bands, so a raw pair's verdict is a function of its
      // two classes alone. The detectors therefore run ONCE per
      // distinct class (the exact-canonical corpus — the collapse
      // q_dedup_pipeline already proved at sf3: 4.6 s vs 421), and the
      // raw-corpus counts come back in closed form from the class
      // sizes n_copies:
      //   cross-class pairs:  each verified canonical pair (a, b)
      //     stands for n_a * n_b raw pairs (x n directions for the
      //     directional containment metric);
      //   within-class pairs: identical docs score jaccard 1,
      //     containment 1 both ways, hamming 0 — every threshold
      //     passes — so a class with n >= 2 copies AND >= 1 shingle
      //     (docs under 3 tokens generate no candidates on the raw
      //     plan either) contributes C(n,2) undirected pairs to the
      //     jaccard/simhash counts and n*(n-1) directed ones to
      //     containment;
      //   clusters: the canonical minhash subgraph's components expand
      //     by their members' class sizes (identical copies are always
      //     connected to their canonical: jaccard 1), and a shingled
      //     class of n >= 2 whose canonical has NO canonical-graph
      //     edge is a raw cluster of exactly its own copies — so
      //     clusters = graph components + standalone dup classes, and
      //     dropped docs = (graph raw members - components)
      //     + standalone (n - 1).
      // The oracle stays the RAW-corpus composition of the family
      // twins — an independent derivation, so the sf0.01 hash gate
      // checks the algebra itself; QueriesSpec re-derives every number
      // from the standalone operators on top. Composition still cannot
      // drift: the branches run the SAME extracted definitions the
      // standalone operators delegate to (shingleArraysOf /
      // shinglePairSizedFromArrays / simhashPairsOf / minhashPairsOf
      // / dedupClusterLabelsFrom), only over the canonical doc set.
      //
      // Scale shape: ONE corpus scan (the digest groupBy — exact
      // dedup's shuffle, which also yields n_docs/exact_dup_docs for
      // free), then every branch runs on distinct documents; the final
      // assembly folds seven O(1) scalars driver-side (the bounded
      // 1-row collect class). Branches still materialize CONCURRENTLY
      // from driver futures over the one shared array cache (the r16
      // slot-interleaving win), and the only cache remains the
      // constant-bytes-per-doc shingle-array frame.
      // class assignment shuffles only (digest, doc_id); canonical text
      // comes back through a doc_id join against the scan — text never
      // shuffles by digest (TextOps.classes's construction)
      val docsRaw = Tables.spread(s, d, "documents")
      val cls = docsRaw
        .select(TextOps.digest(col("text")).as("digest"), col("doc_id"))
        .groupBy("digest")
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("cnt"))
      val canon = docsRaw.select(col("doc_id"), col("text"))
        .join(cls.select(col("doc_id"), col("cnt")), "doc_id")
      val arr = persistEager(AnnOps.shingleArraysOf(s, canon))
      val cnts = arr.select(col("doc_id"), col("cnt"))
      def withCnts(pairs: org.apache.spark.sql.DataFrame) = pairs
        .join(cnts.select(col("doc_id").as("d1"), col("cnt").as("cnt1")),
          "d1")
        .join(cnts.select(col("doc_id").as("d2"), col("cnt").as("cnt2")),
          "d2")
      val sized = TextOps.shinglePairSizedFromArrays(s,
        arr.select(col("doc_id"), col("sh")))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      // cross-class set-similarity counts, class-size weighted
      val jcF = Future(withCnts(sized).agg(
        coalesce(sum(when(
          TextOps.jaccard(col("inter"), col("n1"), col("n2")) >= 0.8,
          col("cnt1") * col("cnt2"))), lit(0L)).as("jac"),
        coalesce(sum((when(round(col("inter").cast("double") / col("n1"),
            6) >= 0.85, 1L).otherwise(0L)
          + when(round(col("inter").cast("double") / col("n2"), 6)
            >= 0.85, 1L).otherwise(0L)) * col("cnt1") * col("cnt2")),
          lit(0L)).as("cont")).head())
      // simhash bit-sums over a fresh narrow explode of the array cache
      val simF = Future(withCnts(AnnOps.simhashPairsOf(
          arr.select(col("doc_id"), explode(col("sh")).as("h"))))
        .agg(coalesce(sum(col("cnt1") * col("cnt2")), lit(0L)))
        .head().getLong(0))
      // minhash pairs ride the same array cache
      val labelsF = Future {
        val labels = AnnOps.dedupClusterLabelsFrom(AnnOps.minhashPairsOf(
            arr.select(col("doc_id"), col("sh"))))
          .join(cnts, "doc_id")
        val g = labels.agg(countDistinct(col("label")),
          coalesce(sum(col("cnt")), lit(0L))).head()
        val st = arr.filter(col("cnt") >= 2 && size(col("sh")) > 0)
          .join(labels.select("doc_id"), Seq("doc_id"), "left_anti")
          .agg(count(lit(1)), coalesce(sum(col("cnt") - 1), lit(0L)))
          .head()
        (g.getLong(0), g.getLong(1), st.getLong(0), st.getLong(1))
      }
      // corpus totals + the within-class closed forms, all from the
      // one cached class frame — no second corpus scan
      val basicF = Future(arr.agg(
        coalesce(sum(col("cnt")), lit(0L)),
        count(lit(1)),
        coalesce(sum(when(col("cnt") >= 2 && size(col("sh")) > 0,
          col("cnt") * (col("cnt") - 1))), lit(0L))).head())
      def await[T](f: Future[T]): T =
        Await.result(f, scala.concurrent.duration.Duration.Inf)
      val jc = await(jcF)
      val sim = await(simF)
      val (graphClusters, graphRaw, soloClusters, soloDropped) =
        await(labelsF)
      val basic = await(basicF)
      val nDocs = basic.getLong(0)
      val withinDirected = basic.getLong(2)
      val withinPairs = withinDirected / 2
      import s.implicits._
      Seq(
        ("containment_pairs", jc.getLong(1) + withinDirected),
        ("exact_dup_docs", nDocs - basic.getLong(1)),
        ("jaccard_pairs", jc.getLong(0) + withinPairs),
        ("n_docs", nDocs),
        ("near_dup_clusters", graphClusters + soloClusters),
        ("near_dup_drop_docs", (graphRaw - graphClusters) + soloDropped),
        ("simhash_pairs", sim + withinPairs),
      ).toDF("metric", "value").orderBy("metric")
    }),

    // ── Dedup pipeline: exact-first ordering as a contract (round 13) ─
    // The dedup family's declared composition order — EXACT dedup
    // first, near-dup detection only on the exact-canonical corpus —
    // as one end-to-end hash-checked operator. The ordering is not
    // cosmetic: the round-12 sf1 leg measured the near-dup detectors
    // at 16-22x on 10x data precisely because the replicated fixture
    // was fed to them raw (every doc had 9 byte-identical copies, so
    // banded candidate sets grew 100x); running the SAME detectors
    // after the one-hash-shuffle exact pass returns them to the
    // distinct-document load. Stages: (1) q_dedup_exact's digest
    // window — canonical = lowest doc_id per normalized-text digest;
    // (2) q_dedup_ngram_jaccard's shared shingle machinery
    // (TextOps.shinglePairSizedFromArrays — the single definition,
    // restricted to canonicals) at the family's 0.8 bar; (3) per-doc
    // verdict: keep = exact-canonical with no smaller-id near-dup
    // partner (the same greedy-by-id rule as the pair convention
    // d1 < d2; the transitive-closure variant stays q_dedup_cluster's
    // contract).
    // Scale shape: one digest shuffle over the full corpus, then every
    // downstream stage runs on distinct documents only.
    "q_dedup_pipeline" -> ((s, d) => {
      // Round-18 re-plan (guide §2.3): the old digest window carried
      // the full TEXT payload (plus lang/source) through the digest
      // exchange. The shared class frames (TextOps.classes) shuffle only
      // (digest, doc_id); the canonical rows' text comes back through a
      // doc_id join, and the per-doc verdict columns are pure id/count
      // algebra off the membership frame (exact_canonical = doc_id ==
      // cdoc, n_copies = cnt — the same rows the rn/count window
      // produced). Detector stages and the keep rule are unchanged.
      val c = TextOps.classes(s, d)
      val nd = TextOps.shinglePairSizedFromArrays(s, c.sh)
        .select(col("d1"), col("d2"),
          TextOps.jaccard(col("inter"), col("n1"), col("n2")).as("jaccard"))
        .filter(col("jaccard") >= 0.8)
      val partners = nd.select(col("d1").as("doc_id"))
        .unionByName(nd.select(col("d2").as("doc_id")))
        .groupBy("doc_id").agg(count(lit(1)).as("nd_partners"))
      val droppedNd = nd.select(col("d2").as("doc_id")).distinct()
        .withColumn("nd_dropped", lit(true))
      c.mem
        .select(col("doc_id"), col("cnt").as("n_copies"),
          (col("doc_id") === col("cdoc")).as("exact_canonical"))
        .join(partners, Seq("doc_id"), "left")
        .join(droppedNd, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_copies"), col("exact_canonical"),
          coalesce(col("nd_partners"), lit(0L)).as("nd_partners"),
          (col("exact_canonical") &&
            !coalesce(col("nd_dropped"), lit(false))).as("keep"))
        .orderBy("doc_id")
    }),

    // Global token frequency top-50: explode -> two-phase agg -> top-k.
    "q_text_tokens" -> ((s, d) =>
      Tables(s, d, "documents")
        .select(explode(split(lower(col("text")), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word").asc)
        .limit(50)),

    // Every corpus vector vs the vec_id=0 probe, top-20 by cosine. The
    // probe is a broadcast 1-row dim; corpus side never shuffles. The
    // similarity itself is the native codegen'd CosineSim expression
    // (graft.functions.CosineSim) — one fused loop, no interpreted HOFs.
    "q_similarity_cosine" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      val probe = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("probe"))
      emb.crossJoin(broadcast(probe))
        .select(col("vec_id"),
          round(graft.functions.CosineSim(s, col("embedding"), col("probe")), 6)
            .as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id").asc)
        .limit(20)
    }),

    // ── MMR diversified retrieval (round 11) ─────────────────────────
    // Maximal Marginal Relevance re-rank of the q_similarity_cosine
    // candidates: greedy k=10 selection maximizing λ·rel −
    // (1−λ)·max-sim-to-already-selected (λ=0.7) — the standard
    // serving-layer answer to "top-k by cosine returns ten copies of
    // the same document", and the retrieval twin of q_semdedup's
    // corpus-side diversification. Scale shape: ALL distributed work is
    // candidate generation (one broadcast-probe corpus pass — at 100 TB
    // the IVF index slots in at that seam, AnnOps) plus one N×N
    // candidate self-join for the pairwise sims; the greedy loop then
    // runs on the DRIVER over serving constants (N=20 candidates, 400
    // sims, k=10 picks) — the deliberate bounded-collect class next to
    // the 1-row argmax, never O(corpus). Determinism: rel/sim are the
    // proven 6dp cosines, and the MMR recurrence itself is EXACT
    // INTEGER micro-units (score_u = 7·rel6 − 3·maxsim6 on rel×10⁶
    // longs — no float op after the 6dp round, so no rounding boundary
    // exists for the engines' argmax to fork on), mirrored term for
    // term by the oracle's 10 generated CTE iterations.
    "q_mmr_diversify" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      val probe = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("probe"))
      val cand = graft.queries.persistEager(emb.crossJoin(broadcast(probe))
        .select(col("vec_id"), col("embedding"),
          round(graft.functions.CosineSim(s, col("embedding"), col("probe")),
            6).as("rel"))
        .orderBy(col("rel").desc, col("vec_id").asc).limit(20))
      val simRows = cand.as("a").join(cand.as("b"),
          col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
          round(graft.functions.CosineSim(s, col("a.embedding"),
            col("b.embedding")), 6).as("sim"))
        .collect()
      val rels = cand.select("vec_id", "rel").collect()
        .map(r => r.getLong(0) -> r.getDouble(1))
      val rel6 = rels.map { case (v, r) => v -> math.round(r * 1e6) }.toMap
      val sim6 = simRows.map(r =>
        (r.getLong(0), r.getLong(1)) -> math.round(r.getDouble(2) * 1e6))
        .toMap
      var selected = Vector.empty[(Long, Long)] // (vec_id, score_u)
      var remaining = rels.map(_._1).toSet
      for (_ <- 1 to math.min(10, rels.length)) {
        val scored = remaining.toSeq.map { c =>
          val ms = selected.map(p => sim6((c, p._1)))
            .maxOption.getOrElse(0L)
          (c, 7L * rel6(c) - 3L * ms)
        }
        val pick = scored.minBy { case (v, su) => (-su, v) }
        selected :+= pick
        remaining -= pick._1
      }
      val relMap = rels.toMap
      import s.implicits._
      selected.zipWithIndex.map { case ((v, su), i) =>
        ((i + 1).toLong, v, relMap(v), su.toDouble / 1e7)
      }.toSeq.toDF("rk", "vec_id", "relevance", "mmr_score")
    }),

    // 5 probes x corpus with broadcast probes, per-probe top-5 window.
    "q_knn_pergroup" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe"))
      val w = Window.partitionBy("probe_id")
        .orderBy(col("cos_sim").desc, col("vec_id").asc)
      emb.crossJoin(broadcast(probes))
        .select(col("probe_id"), col("vec_id"),
          round(graft.functions.CosineSim(s, col("embedding"), col("probe")), 6)
            .as("cos_sim"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select("probe_id", "vec_id", "cos_sim")
        .orderBy(col("probe_id").asc, col("cos_sim").desc, col("vec_id").asc)
    }),

    // Embedding-cosine near-dup: every vector's EXACT nearest neighbor
    // (rounded cosine, nn_id tie-break) + a threshold flag. Shape: the
    // corpus joins a broadcast copy of itself (no shuffle of the probe
    // fan-out) and the argmax is a two-phase max-of-struct aggregate —
    // map-side combined, so the only exchange carries |vectors| rows,
    // never the n^2 product. The n^2 COMPUTE is inherent to exact NN;
    // at 100 TB the recall-traded path is the LSH/IVF family (AnnOps),
    // with this query as its exact ground-truth contract. Selection uses
    // the 6dp-ROUNDED cosine so both engines pick the same neighbor even
    // when raw doubles differ in the last ulp.
    // Norms are precomputed ONCE per row (sqrt(dot(a,a)) via the native
    // dot_product kernel) so the n^2 pair loop is a single multiply-add
    // pass — 1 mult/element vs the fused CosineSim's 3 (which recomputes
    // both norms per PAIR). Same formula, bitwise-identical cosine.
    "q_dedup_embedding" -> ((s, d) => {
      import graft.functions.DotProduct
      // Fixture-only gate (round-4 verdict #5): this plan broadcasts the
      // corpus and does O(n^2) compute — it exists as the exact
      // ground-truth twin of q_dedup_embedding_lsh and must never run at
      // scale. Verify/Bench/tests opt in; a production session gets a
      // loud error pointing at the scale path instead of a plan that
      // OOMs the cluster.
      require(s.conf.get("spark.graft.allowQuadratic", "false") == "true",
        "q_dedup_embedding is the fixture-scale exact ground-truth twin: " +
          "its plan broadcasts the corpus and does O(n^2) compute. Set " +
          "spark.graft.allowQuadratic=true to run it at fixture scale, or " +
          "use q_dedup_embedding_lsh — the bucketed 100-TB path with the " +
          "same near-dup contract.")
      // Zero-norm guard (round-3 advice): a zero vector's cosine is NaN,
      // and round(NaN*1e6).cast(long) would silently pack as 0 — drop such
      // rows from both sides instead (CosineSim's zero-norm-to-null
      // contract, applied pre-argmax; fixture embeddings are all nonzero).
      val emb = Tables(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"),
          sqrt(DotProduct(s, col("embedding"), col("embedding"))).as("nrm"))
        .filter(col("nrm") > 0)
      val other = emb.select(col("vec_id").as("nn_id"),
        col("embedding").as("other"), col("nrm").as("onrm"))
      // The argmax must stay a codegen'd two-phase HashAggregate: both
      // max-of-struct AND max_by-with-struct-ordering fall back to
      // SortAggregate, which sorts all n^2 candidate rows before
      // aggregating. Round 12: the former single-long pack (cosine int
      // in the high bits, bitwise-inverted id in the low 33) silently
      // wrapped for ids >= 2^33 — the sf1 leg caught a corrupted
      // neighbor id and a borrowed-1 cosine on replica ids at 10^10.
      // MaxCosMinId is the width-safe replacement: a DeclarativeAggregate
      // over (6dp cosine int, nn_id) with two flat long buffer slots —
      // still HashAggregate + whole-stage codegen + map-side partials,
      // now with full 64-bit ids. Output cosine is cosInt/1e6 in double —
      // the same value round(x, 6) yields.
      import graft.functions.MaxCosMinId
      emb.crossJoin(broadcast(other))
        .filter(col("vec_id") =!= col("nn_id"))
        .select(col("vec_id"),
          round(DotProduct(s, col("embedding"), col("other"))
            / (col("nrm") * col("onrm")) * 1e6, 0).cast("long").as("ci"),
          col("nn_id").as("ni"))
        .groupBy("vec_id")
        .agg(MaxCosMinId(s, col("ci"), col("ni")).as("best"))
        .select(col("vec_id"),
          col("best.id").as("nn_id"),
          (col("best.cos").cast("double") / 1e6).as("cos_sim"),
          (col("best.cos") >= 400000L).as("is_near_dup"))
        .orderBy("vec_id")
    }),

    // Int8 scalar quantization (round 5) — the vector-store compression
    // step of an embedding pipeline: per-vector scale = max|x_i|,
    // q_i = round(127 * x_i / scale) in [-127, 127] (zero vectors
    // quantize to all-zero). Output is exact integers joined to a string
    // (the driver comparator cannot hash arrays) plus the float-derived
    // scale, which is bitwise-identical on both engines.
    //
    // Shape: posexplode -> per-vector window max -> re-assemble via
    // sort_array(collect_list(struct(pos, q))) — two-phase aggregates,
    // ONE shuffle keyed on vec_id. Deliberately NOT a transform() over a
    // derived scale column: interpreted HOFs re-evaluate referenced
    // subtrees per element (CollapseProject inlines them), which would
    // recompute the array max d times per row.
    "q_embedding_quantize" -> ((s, d) => {
      val e = Tables(s, d, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos"), col("col").cast("double").as("x"))
      val w = Window.partitionBy("vec_id")
      e.withColumn("scale", max(abs(col("x"))).over(w))
        .withColumn("qi",
          when(col("scale") === 0, lit(0L))
            .otherwise(round(col("x") * 127.0 / col("scale"), 0)
              .cast("long")))
        .groupBy("vec_id")
        .agg(first(col("scale")).as("scale"),
          array_join(
            transform(
              array_sort(collect_list(struct(col("pos"), col("qi")))),
              st => st.getField("qi").cast("string")), ",").as("q_vec"))
        .orderBy("vec_id")
    }),

    // Johnson-Lindenstrauss random projection 64 -> 8 (round 6): the
    // dimension-reduction step before ANN indexing / clustering when
    // the raw embedding is too wide. The projection matrix is DERIVED
    // (md5 of "i_j" -> integer weight in [-1000, 1000], i.e. 3dp), so
    // any engine regenerates it — no random state to ship. Determinism:
    // terms are exact decimals (6dp-rounded component x integer
    // weight as an EXACT decimal(4,3)), so the per-(vec, j) sums are
    // order-independent, and the 6dp rounding happens on the exact
    // DECIMAL sum — never on a double (a double at a .5e-6 boundary
    // rounds differently on the two engines: Spark rounds the shortest
    // decimal repr HALF_UP, DuckDB the binary value — caught by the
    // sf0.1 gate as a 1-in-16000-cell mismatch). Scale shape:
    // posexplode -> BROADCAST join with the 512-row literal matrix ->
    // one (vec_id, j)-keyed two-phase agg; map-side combine does the
    // heavy reduction, nothing ever collects.
    "q_embedding_project" -> ((s, d) => {
      val dIn = 64L; val dOut = 8L
      val h = h60(concat(col("i"), lit("_"), col("j")))
      val r = s.range(dIn).select(col("id").as("i"))
        .crossJoin(s.range(dOut).select(col("id").as("j")))
        .withColumn("rw",
          (pmod(h, lit(2001L)) - 1000L).cast("decimal(4,0)")
            * lit("0.001").cast("decimal(4,3)"))
      val e = Tables.spread(s, d, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos").cast("long").as("i"),
          round(col("col").cast("double"), 6).cast("decimal(12,6)").as("x6"))
      e.join(broadcast(r), Seq("i"))
        .groupBy(col("vec_id"), col("j"))
        .agg(round(sum(col("x6") * col("rw")), 6).cast("double").as("proj"))
        .orderBy("vec_id", "j")
    }),

    // HLL sketch distinct — no oracle (approximate); ScalaTest pins the
    // 5% relative-error contract against exact counts.
    "q_approx_distinct" -> ((s, d) =>
      Tables(s, d, "events")
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id")).as("approx_users"),
          count(lit(1)).as("n_events"))
        .orderBy("event_type")),

    // Corpus-trained BPE tokenizer (round 8): real greedy byte-pair
    // merges replace q_token_count's "BPE-ish regex pieces" stand-in.
    // Training runs bpeK merge rounds as iterative pair-count aggregates
    // over the WORD-FREQUENCY table (the q_dedup_cluster fixpoint shape:
    // each round one two-phase agg + a 1-row argmax collect, vocab
    // localCheckpoint'ed so the plan never grows); per-doc token counts
    // under the learned vocab are then one word equi-join — the trained
    // vocab's symbolization IS the tokenizer output for every corpus
    // word, so no re-tokenization pass is needed. Deterministic by
    // construction (exact integer pair counts, argmax tie-broken on the
    // pair string under binary collation both engines) and fully
    // SQL-expressible: the oracle replays the identical k rounds as a
    // generated CTE chain. Scale shape: the corpus is touched exactly
    // twice (word-count agg, final word join); all k training rounds run
    // on the O(distinct words) vocab table — at 100 TB that is the
    // standard wordcount-then-train split, with the argmax collect O(1)
    // per round, never O(data).
    "q_bpe_tokenize" -> ((s, d) => {
      val vocab = bpeVocab(s, d, bpeK)._1
      val pieces = vocab.select(col("word"),
        size(split(trim(col("sym")), "  ")).as("n_pieces"))
      Tables(s, d, "documents")
        .select(col("doc_id"),
          explode(split(lower(col("text")), " ")).as("word"))
        .filter(col("word") =!= "")
        .join(pieces, "word")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens_ws"),
          sum("n_pieces").as("n_tokens_bpe"))
        .orderBy("doc_id")
    }),
  )

  // ------------------------------------------------------- BPE training

  /** Merge rounds for q_bpe_tokenize — enough to form real multi-char
    * pieces on the fixture while keeping the oracle's generated CTE
    * chain readable. */
  private[graft] val bpeK = 16

  /** Greedy BPE training over the corpus word-frequency table. Each
    * word's working symbolization is a STRING: symbols separated by TWO
    * spaces, one space at each edge (" h  e  y "). Applying merge (a,b)
    * is then `replace(sym, ' a  b ', ' ab ')` — non-overlapping
    * left-to-right, exactly greedy BPE application, and consecutive
    * matches keep the invariant because each match consumes one edge
    * space of its neighbor's separator. Both engines' `replace` share
    * these semantics, which is what makes the DuckDB twin exact.
    * Returns (vocab frame (word, wfreq, sym-after-k-merges), merges in
    * order). */
  private[graft] def bpeVocab(s: org.apache.spark.sql.SparkSession,
    d: String, k: Int): (org.apache.spark.sql.DataFrame, Seq[String]) = {
    var vocab = graft.queries.checkpointed(Tables(s, d, "documents")
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("wfreq"))
      .withColumn("sym", concat(lit(" "),
        concat_ws("  ", expr("filter(split(word, ''), x -> x <> '')")),
        lit(" "))))
    val merges = scala.collection.mutable.ListBuffer.empty[String]
    var r = 0
    var exhausted = false
    while (r < k && !exhausted) {
      val best = vocab
        .withColumn("sy", split(trim(col("sym")), "  "))
        .filter(size(col("sy")) >= 2)
        .select(col("wfreq"), explode(expr(
          "transform(sequence(1, size(sy) - 1), " +
            "i -> concat(element_at(sy, i), '  ', element_at(sy, i + 1)))"))
          .as("pair"))
        .groupBy("pair").agg(sum("wfreq").as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val pair = best(0).getString(0)
        merges += pair
        // Round-17 (guide §1.2 per-round job count): merges stack as a
        // LAZY replace chain over the one checkpointed wordcount base —
        // a merge is a single cheap string expression, so re-running
        // round r's <= r replaces inside the next pair-count job costs
        // far less than the eager localCheckpoint barrier per round paid
        // before (one extra job + full vocab materialization per merge,
        // 16 of each). Plan depth grows by one Project per round —
        // Catalyst collapses the projections; nothing iterative
        // re-embeds upstream of the checkpointed base, so the
        // plan-growth hazard the checkpoint guarded against (each round
        // re-embedding a GROWING dag) does not apply to this flat
        // chain.
        vocab = vocab.withColumn("sym",
          replace(col("sym"), lit(s" $pair "),
            lit(" " + pair.replace("  ", "") + " ")))
      }
      r += 1
    }
    (vocab, merges.toSeq)
  }

  /** The learned merge table alone (for specs / external use). */
  private[graft] def trainBpeMerges(s: org.apache.spark.sql.SparkSession,
    d: String, k: Int = bpeK): Seq[String] = bpeVocab(s, d, k)._2

  /** DuckDB twin of q_bpe_tokenize: the IDENTICAL k greedy merge rounds
    * as a generated CTE chain — pair counts from the double-space
    * symbolization, argmax tie-broken on the pair string, merge applied
    * with the same `replace` semantics — then the same per-doc word join. */
  private def bpeOracle(k: Int): String = {
    // Every v$r is referenced twice (pair counts + merge application):
    // without MATERIALIZED the inlined chain re-derives v$r from scratch
    // on each reference — 2^k documents scans by round k.
    val rounds = (0 until k).map { r =>
      s"""p$r AS (
         |  SELECT unnest([array_to_string(sy[i+1:i+2], '  ')
         |                 for i in range(len(sy) - 1)]) AS pair, wfreq
         |  FROM (SELECT wfreq, string_split(trim(sym), '  ') AS sy FROM v$r)),
         |b$r AS (
         |  SELECT pair FROM p$r GROUP BY pair
         |  ORDER BY SUM(wfreq) DESC, pair ASC LIMIT 1),
         |v${r + 1} AS MATERIALIZED (
         |  SELECT word, wfreq,
         |    replace(sym, ' ' || b$r.pair || ' ',
         |            ' ' || replace(b$r.pair, '  ', '') || ' ') AS sym
         |  FROM v$r, b$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH w AS (
       |  SELECT word, COUNT(*) AS wfreq FROM (
       |    SELECT unnest(string_split(lower(text), ' ')) AS word
       |    FROM documents)
       |  WHERE word <> '' GROUP BY word),
       |v0 AS MATERIALIZED (
       |  SELECT word, wfreq,
       |    ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS sym
       |  FROM w),
       |$rounds
       |SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens_ws,
       |  CAST(SUM(len(string_split(trim(v.sym), '  '))) AS BIGINT)
       |    AS n_tokens_bpe
       |FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
       |      FROM documents) d
       |JOIN v$k v USING (word)
       |WHERE d.word <> ''
       |GROUP BY d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** DuckDB twin of the position-aligned double dot product. */
  private def dotSql(where: String): String =
    s"""SELECT vec_id, unnest(embedding) AS v,
       |       generate_subscripts(embedding, 1) AS i
       |FROM embeddings $where""".stripMargin

  /** One MMR greedy step as a CTE pair (mirrors the integer micro-unit
    * recurrence in q_mmr_diversify). MATERIALIZED: each step reads its
    * predecessor three times, and DuckDB 1.0 would inline the chain
    * exponentially otherwise. */
  private def mmrStepSql(k: Int): String = {
    val prev = s"sel${k - 1}"
    s"""pick$k AS MATERIALIZED (
       |  SELECT c.vec_id, $k AS rk, c.rel,
       |    7 * c.rel6 - 3 * COALESCE((
       |      SELECT MAX(s.sim6) FROM sims s
       |      WHERE s.va = c.vec_id
       |        AND s.vb IN (SELECT vec_id FROM $prev)), 0) AS score_u
       |  FROM c6 c
       |  WHERE c.vec_id NOT IN (SELECT vec_id FROM $prev)
       |  ORDER BY score_u DESC, c.vec_id LIMIT 1),
       |sel$k AS MATERIALIZED (
       |  SELECT * FROM $prev UNION ALL SELECT * FROM pick$k)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q_bpe_tokenize" -> bpeOracle(bpeK),

    // Composed from the individually-proven family twins (each embedded
    // as a subquery), so the dashboard's aggregation is itself
    // hash-checked end-to-end — the q_curation_keep pattern.
    // Round 12: each family twin is hoisted into ONE MATERIALIZED CTE —
    // the cluster twin previously appeared twice (clusters + drops) and
    // DuckDB re-evaluated its whole recursive closure and shingle
    // pipeline per reference, which is what made the composed dashboard
    // the most expensive oracle at scale.
    "q_dedup_report" ->
      s"""WITH jp AS MATERIALIZED (${TextOps.oracle("q_dedup_ngram_jaccard")}),
         |cp AS MATERIALIZED (${TextOps.oracle("q_dedup_containment")}),
         |sp AS MATERIALIZED (${AnnOps.oracle("q_dedup_simhash")}),
         |cl AS MATERIALIZED (${AnnOps.oracle("q_dedup_cluster")})
         |SELECT metric, value FROM (
         |SELECT 'n_docs' AS metric,
         |  CAST(COUNT(*) AS BIGINT) AS value FROM documents
         |UNION ALL
         |SELECT 'exact_dup_docs',
         |  CAST((SELECT COUNT(*) FROM documents)
         |    - (SELECT COUNT(DISTINCT md5(lower(trim(text))))
         |       FROM documents) AS BIGINT)
         |UNION ALL
         |SELECT 'jaccard_pairs', CAST(COUNT(*) AS BIGINT) FROM jp
         |UNION ALL
         |SELECT 'containment_pairs', CAST(COUNT(*) AS BIGINT) FROM cp
         |UNION ALL
         |SELECT 'simhash_pairs', CAST(COUNT(*) AS BIGINT) FROM sp
         |UNION ALL
         |SELECT 'near_dup_clusters',
         |  CAST(COUNT(DISTINCT cluster_id) AS BIGINT)
         |FROM cl WHERE cluster_size > 1
         |UNION ALL
         |SELECT 'near_dup_drop_docs', CAST(COUNT(*) AS BIGINT)
         |FROM cl WHERE NOT is_canonical
         |) ORDER BY metric""".stripMargin,

    "q_embedding_project" ->
      """WITH r AS (
        |  SELECT t1.i, t2.j,
        |    CAST(CAST(('0x' || substring(md5(CAST(t1.i AS VARCHAR) || '_'
        |      || CAST(t2.j AS VARCHAR)), 1, 15)) AS BIGINT) % 2001 - 1000
        |      AS DECIMAL(4,0)) * CAST(0.001 AS DECIMAL(4,3)) AS rw
        |  FROM range(64) t1(i) CROSS JOIN range(8) t2(j)),
        |e AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE), 6)
        |      AS DECIMAL(12,6)) AS x6
        |  FROM embeddings)
        |SELECT e.vec_id, CAST(r.j AS BIGINT) AS j,
        |  CAST(round(SUM(e.x6 * r.rw), 6) AS DOUBLE) AS proj
        |FROM e JOIN r USING (i)
        |GROUP BY e.vec_id, r.j
        |ORDER BY vec_id, j""".stripMargin,

    "q_embedding_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
        |         CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |s AS (SELECT vec_id, max(abs(x)) AS scale FROM e GROUP BY vec_id)
        |SELECT vec_id, any_value(s.scale) AS scale,
        |  string_agg(CAST(CASE WHEN s.scale = 0 THEN 0
        |    ELSE CAST(round(x * 127.0 / s.scale, 0) AS BIGINT) END
        |    AS VARCHAR), ',' ORDER BY e.pos) AS q_vec
        |FROM e JOIN s USING (vec_id)
        |GROUP BY vec_id
        |ORDER BY vec_id""".stripMargin,

    "q_dedup_exact" ->
      """WITH h AS (
        |  SELECT doc_id, md5(lower(trim(text))) AS digest, lang, source,
        |    ROW_NUMBER() OVER (PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY md5(lower(trim(text)))) AS n_copies
        |  FROM documents)
        |SELECT doc_id, digest, lang, source, n_copies
        |FROM h WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // Composed from the proven q_dedup_exact window + the
    // q_dedup_ngram_jaccard shingle/jaccard fragments, with the shingle
    // base restricted to exact-canonical docs (rn = 1). The keep rule is
    // pairwise greedy-by-id: d1 < d2 always, so any doc appearing as d2
    // in a >=0.8 pair is dropped.
    "q_dedup_pipeline" ->
      """WITH h AS (
        |  SELECT doc_id, text,
        |    ROW_NUMBER() OVER (PARTITION BY md5(lower(trim(text)))
        |      ORDER BY doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY md5(lower(trim(text)))) AS n_copies
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substring(md5(unnest(list_distinct(
        |      [array_to_string(tok[i+1:i+3], ' ')
        |       for i in range(len(tok)-2)]))), 1, 15)) AS BIGINT) AS s
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS tok
        |        FROM h WHERE rn = 1)),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |nd AS (
        |  SELECT d1, d2 FROM inter
        |  JOIN sz s1 ON s1.doc_id = d1
        |  JOIN sz s2 ON s2.doc_id = d2
        |  WHERE round(CAST(inter AS DOUBLE) / (s1.n + s2.n - inter), 6)
        |    >= 0.8),
        |partners AS (
        |  SELECT doc_id, COUNT(*) AS nd_partners FROM (
        |    SELECT d1 AS doc_id FROM nd
        |    UNION ALL SELECT d2 AS doc_id FROM nd)
        |  GROUP BY doc_id),
        |dropped AS (SELECT DISTINCT d2 AS doc_id FROM nd)
        |SELECT h.doc_id, h.n_copies, h.rn = 1 AS exact_canonical,
        |  CAST(coalesce(p.nd_partners, 0) AS BIGINT) AS nd_partners,
        |  (h.rn = 1 AND dr.doc_id IS NULL) AS keep
        |FROM h
        |LEFT JOIN partners p ON p.doc_id = h.doc_id
        |LEFT JOIN dropped dr ON dr.doc_id = h.doc_id
        |ORDER BY h.doc_id""".stripMargin,

    "q_text_tokens" ->
      """SELECT word, COUNT(*) AS cnt FROM (
        |  SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
        |WHERE word <> ''
        |GROUP BY word
        |ORDER BY cnt DESC, word ASC
        |LIMIT 50""".stripMargin,

    "q_similarity_cosine" ->
      s"""WITH ce AS (${dotSql("")}),
         |pe AS (${dotSql("WHERE vec_id = 0")}),
         |dots AS (
         |  SELECT ce.vec_id,
         |         SUM(CAST(ce.v AS DOUBLE) * CAST(pe.v AS DOUBLE)) AS dot
         |  FROM ce JOIN pe ON ce.i = pe.i GROUP BY ce.vec_id),
         |norms AS (
         |  SELECT vec_id, sqrt(SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS nrm
         |  FROM ce GROUP BY vec_id)
         |SELECT d.vec_id, round(d.dot / (n.nrm * p.nrm), 6) AS cos_sim
         |FROM dots d
         |JOIN norms n ON n.vec_id = d.vec_id
         |JOIN norms p ON p.vec_id = 0
         |ORDER BY cos_sim DESC, d.vec_id ASC
         |LIMIT 20""".stripMargin,

    "q_mmr_diversify" -> {
      val steps = (2 to 10).map(mmrStepSql).mkString(",\n")
      s"""WITH ce AS (${dotSql("")}),
         |pe AS (${dotSql("WHERE vec_id = 0")}),
         |dots AS (
         |  SELECT ce.vec_id,
         |         SUM(CAST(ce.v AS DOUBLE) * CAST(pe.v AS DOUBLE)) AS dot
         |  FROM ce JOIN pe ON ce.i = pe.i GROUP BY ce.vec_id),
         |norms AS MATERIALIZED (
         |  SELECT vec_id, sqrt(SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS nrm
         |  FROM ce GROUP BY vec_id),
         |cand AS MATERIALIZED (
         |  SELECT d.vec_id, round(d.dot / (n.nrm * p.nrm), 6) AS rel
         |  FROM dots d
         |  JOIN norms n ON n.vec_id = d.vec_id
         |  JOIN norms p ON p.vec_id = 0
         |  ORDER BY rel DESC, d.vec_id ASC
         |  LIMIT 20),
         |c6 AS MATERIALIZED (
         |  SELECT vec_id, rel,
         |    CAST(round(rel * 1000000) AS BIGINT) AS rel6
         |  FROM cand),
         |cemb AS MATERIALIZED (
         |  SELECT vec_id, v, i FROM ce
         |  WHERE vec_id IN (SELECT vec_id FROM cand)),
         |pdots AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb,
         |    SUM(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)) AS dot
         |  FROM cemb a JOIN cemb b
         |    ON a.i = b.i AND a.vec_id <> b.vec_id
         |  GROUP BY 1, 2),
         |sims AS MATERIALIZED (
         |  SELECT pd.va, pd.vb,
         |    CAST(round(round(pd.dot / (na.nrm * nb.nrm), 6) * 1000000)
         |         AS BIGINT) AS sim6
         |  FROM pdots pd
         |  JOIN norms na ON na.vec_id = pd.va
         |  JOIN norms nb ON nb.vec_id = pd.vb),
         |sel1 AS MATERIALIZED (
         |  SELECT vec_id, 1 AS rk, rel,
         |    CAST(7 * rel6 AS BIGINT) AS score_u
         |  FROM c6 ORDER BY rel6 DESC, vec_id LIMIT 1),
         |$steps
         |SELECT CAST(rk AS BIGINT) AS rk, vec_id, rel AS relevance,
         |  CAST(score_u AS DOUBLE) / 10000000.0 AS mmr_score
         |FROM sel10 ORDER BY rk""".stripMargin
    },

    "q_knn_pergroup" ->
      s"""WITH ce AS (${dotSql("")}),
         |pe AS (${dotSql("WHERE vec_id < 5")}),
         |dots AS (
         |  SELECT pe.vec_id AS probe_id, ce.vec_id,
         |         SUM(CAST(ce.v AS DOUBLE) * CAST(pe.v AS DOUBLE)) AS dot
         |  FROM ce JOIN pe ON ce.i = pe.i GROUP BY pe.vec_id, ce.vec_id),
         |norms AS (
         |  SELECT vec_id, sqrt(SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS nrm
         |  FROM ce GROUP BY vec_id),
         |scored AS (
         |  SELECT d.probe_id, d.vec_id,
         |         round(d.dot / (nc.nrm * np.nrm), 6) AS cos_sim
         |  FROM dots d
         |  JOIN norms nc ON nc.vec_id = d.vec_id
         |  JOIN norms np ON np.vec_id = d.probe_id)
         |SELECT probe_id, vec_id, cos_sim FROM scored
         |QUALIFY ROW_NUMBER() OVER (PARTITION BY probe_id
         |  ORDER BY cos_sim DESC, vec_id ASC) <= 5
         |ORDER BY probe_id ASC, cos_sim DESC, vec_id ASC""".stripMargin,
    // Round 12: array-native formulation. The original unnest-join dots
    // CTE (ce a JOIN ce b ON a.i = b.i) materializes |dims| * n^2 rows —
    // 25.6e9 at sf1 (the check spilled 34 GB and never finished); the
    // per-pair list_dot_product is the same multiply-add sequence in the
    // same ascending-i order (hash-validated equivalent at sf0.1 + sf1).
    "q_dedup_embedding" ->
      s"""WITH e AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |norms AS (
         |  SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm
         |  FROM e),
         |scored AS (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
         |    round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 6)
         |      AS cos_sim
         |  FROM norms a JOIN norms b ON a.vec_id <> b.vec_id
         |  WHERE a.nrm > 0 AND b.nrm > 0)
         |SELECT vec_id, nn_id, cos_sim, cos_sim >= 0.4 AS is_near_dup
         |FROM scored
         |QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
         |  ORDER BY cos_sim DESC, nn_id ASC) = 1
         |ORDER BY vec_id""".stripMargin,

    // q_approx_distinct: deliberately no oracle — approximate result,
    // contract pinned in LlmOpsSpec (±5% of exact distinct).
  )
}
