package graft.queries

import graft.Tables
import graft.functions.GraftExtensions.h60
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate dedup + ANN family (north star): MinHash+LSH banding,
  * SimHash with chunk banding, and an IVF-bucketed ANN search — the scale
  * paths for the exact operators in TextOps/LlmOps.
  *
  * Scale notes: all three share the bucket-join shape — per-doc sketch,
  * explode to O(1) bucket keys, equi-join on the bucket, exact verify on
  * the (tiny) candidate set. Shuffle volume is O(rows * bands), never
  * O(n^2). Sketches are built by EXPLODING shingles once and aggregating
  * (two-phase HashAggregate with map-side partial min/sum) rather than by
  * nested array expressions: higher-order Catalyst expressions are
  * interpreted per reference, so a 48-way array fold over a derived array
  * re-evaluates the md5 pipeline 48x per row — the aggregate shape hashes
  * each shingle exactly once and is also the plan that scales (sketch
  * build is one shuffle keyed on doc_id).
  *
  * Determinism: hash parameters derive from the same 60-bit md5-prefix as
  * TextOps (portable to SQL), so results are stable across runs/engines.
  *  - q_dedup_minhash emits pairs with exact Jaccard >= 0.8 among LSH
  *    candidates; with b=16 bands of r=3 the miss probability at J >= 0.9
  *    (the fixture's weakest planted pair at sf0.01) is ~4e-8, so it
  *    shares the exact-Jaccard oracle.
  *  - q_dedup_simhash emits pairs at Hamming <= 3 over a 48-bit simhash;
  *    4 banding chunks of 12 bits give GUARANTEED recall at <= 3 by
  *    pigeonhole, so the output is exactly deterministic.
  */
object AnnOps {

  private val P = 2147483647L // Mersenne prime 2^31-1 for affine rehashing
  private val numHashes = 48
  private val bands = 16 // r = 3 rows per band

  /** (doc_id, h: exploded 60-bit hash of the distinct 3-gram shingles) —
    * one fused shingle_hash60 pass per doc (see that expression's
    * engine-parity contract; it IS `array_distinct(shingles) |> h60`). */
  private def shingleHashes(s: SparkSession, d: String): DataFrame =
    Tables.spread(s, d, "documents")
      .select(col("doc_id"),
        explode(graft.functions.ShingleHash60(s, col("text"), 3, distinct = true))
          .as("h"))

  /** Affine permutation parameters, derived (not random) so both the Scala
    * and any SQL twin can regenerate them. */
  private def affine(i: Int): (Long, Long) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(s: String): Long =
      java.lang.Long.parseLong(
        md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
          .substring(0, 15), 16)
    ((h(s"mh-a-$i") % (P - 1)) + 1, h(s"mh-b-$i") % P)
  }

  /** Canonical-corpus MinHash (round 18, r17 verdict #1 — the
    * q_dedup_report treatment for the CLUSTER consumers): same digest ⇒
    * same shingle set ⇒ same 48 affine min-hashes ⇒ same 16 band
    * buckets, so the sketch build, the banded candidate join and the
    * exact-Jaccard verify run ONCE per exact-dup class (TextOps.classes)
    * instead of once per raw doc — a replica-heavy drop no longer pays
    * O(class²) candidate pairs inside each class (the shape that made
    * q_dedup_report 421 s at sf3 before round 17). Raw pairs and labels
    * fan back through [[TextOps.Classes]].
    *
    * No shingle df-cap is needed here (unlike q_dedup_ngram_jaccard's
    * `spark.graft.shingleDfCap`): candidates come from (band, bucket)
    * equi-joins — O(classes x bands) rows regardless of how hot any
    * single shingle is — and the shingle explode only feeds per-class
    * aggregations, never a shingle-keyed join. */
  private def minhashClasses(s: SparkSession, d: String)
      : (TextOps.Classes, DataFrame) = {
    val c = TextOps.classes(s, d)
    (c, minhashPairsOf(c.sh.select(col("doc_id"), col("sh"))))
  }

  /** (doc_id, band, bucket) LSH banding of a (doc_id, sh) frame: 48
    * affine min-hashes over the exploded shingle hashes (one codegen'd
    * HashAggregate), md5 bucket per 3-row band. ONE definition shared by
    * the live pipeline, the persisted index build, and the new-drop side
    * of q_dedup_incremental — so stored and recomputed bucketings can
    * never drift. */
  private def bandedFrom(docsSh: DataFrame): DataFrame = {
    val minAggs = (0 until numHashes).map { i =>
      val (a, b) = affine(i)
      min((col("h") % P * a + b) % P).as(s"m$i")
    }
    val sig = docsSh.select(col("doc_id"), explode(col("sh")).as("h"))
      .groupBy("doc_id")
      .agg(minAggs.head, minAggs.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
    sig.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => md5(concat_ws(",",
          slice(col("sig"), b * (numHashes / bands) + 1,
            lit(numHashes / bands)))))))
      .withColumnRenamed("col", "bucket").withColumnRenamed("pos", "band")
  }

  /** Shingle arrays over a caller-chosen frame carrying (doc_id, text,
    * …) — THE shingle-array definition of the dedup family (round-15
    * review: two copies of this literal would let the report's metrics
    * drift from the standalone operators if the shingle parameters ever
    * changed in one place), shared by TextOps.classes and
    * q_dedup_report's cache. Since round 18 every minhash consumer
    * sketches a CANONICAL doc set (one row per normalized-text digest
    * class). Passthrough columns (e.g. the class size `cnt`) survive;
    * `text` is dropped once hashed. Callers persist. */
  private[queries] def shingleArraysOf(s: SparkSession,
      docs: DataFrame): DataFrame =
    docs.withColumn("sh",
        graft.functions.ShingleHash60(s, col("text"), 3, distinct = true))
      .drop("text")

  /** Banded LSH candidates + exact-Jaccard verify over a
    * caller-persisted (doc_id, sh: hash array) frame — the seam
    * q_dedup_report uses to pay the corpus's ShingleHash60 pass ONCE
    * across the jaccard/simhash/minhash-cluster branches (round-14
    * verdict #5, the d96e96e sharing pattern), and since round 18 the
    * shared kernel of [[minhashClasses]]. */
  private[queries] def minhashPairsOf(docsSh: DataFrame): DataFrame = {
    val docs = docsSh
    // Persist the banded SKETCH (doc_id, band, bucket — constant bytes
    // per doc) before the self-join: Spark does not reuse the exchange
    // across the two join sides, so without this the whole
    // explode+48-agg sig pipeline runs twice. Caching O(docs x bands)
    // rows is the standard LSH trade at any scale; MEMORY_AND_DISK
    // spills rather than OOMs on a 100 TB corpus. The sig build explodes
    // the PERSISTED sh arrays (round 7), so ShingleHash60 runs once per
    // doc instead of once here and once in the verify-side scan.
    // eager fill: one sig pass, not a per-side race
    val banded = persistEager(bandedFrom(docs))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .dropDuplicates("d1", "d2")
    verifiedPairs(cand, docs)
  }

  /** Exact-Jaccard verify of candidate pairs (d1, d2) against the full
    * (doc_id, sh) shingle sets: (d1, d2, inter, jaccard) at jaccard
    * >= 0.8. Shared by [[minhashPairsOf]] and q_dedup_incremental. */
  private def verifiedPairs(cand: DataFrame, docsSh: DataFrame)
      : DataFrame =
    cand
      .join(docsSh.select(col("doc_id").as("d1"), col("sh").as("sh1")), "d1")
      .join(docsSh.select(col("doc_id").as("d2"), col("sh").as("sh2")), "d2")
      .withColumn("inter",
        size(array_intersect(col("sh1"), col("sh2"))).cast("long"))
      .select(col("d1"), col("d2"), col("inter"),
        TextOps.jaccard(col("inter"), size(col("sh1")), size(col("sh2")))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.8)

  // ------------------------------------------------------------- queries

  private val pairQ: Map[String, Q] = Map(
    // Raw near-dup pair listing, detector run once per digest class
    // (round 18 — see minhashClasses; oracle unchanged, raw
    // exact-Jaccard semantics).
    "q_dedup_minhash" -> ((s, d) => {
      val (c, pairs) = minhashClasses(s, d)
      TextOps.jaccardFanBack(c, pairs).orderBy("d1", "d2")
    }),

    // Incremental near-dup dedup against a PERSISTED corpus index (round
    // 7) — the production dedup shape: a new drop (here doc_id % 10 = 3,
    // ~10% of the corpus) dedups against the EXISTING corpus without
    // recomputing the corpus's sketches. The existing side's minhash
    // bands and shingle arrays are materialized ONCE as content-addressed
    // bucketed tables (FixtureLayout: regenerated fixture ⇒ new tag;
    // concurrent creators race safely), then every drop pays only
    //   O(new docs): sketch the new side with the SAME bandedFrom
    //     pipeline the index was built with;
    //   O(new bands): equi-join new bands against the stored band table
    //     (bucketed on `bucket`, so the stored side arrives pre-hashed)
    //     plus a new×new self-join for dups within the drop;
    //   exact-Jaccard verify on the candidates, old shingle arrays
    //     served by the stored doc-sketch table (bucketed on doc_id).
    // The corpus is re-scanned ZERO times (AnnSpec pins the plan: stored
    // side comes from the index tables; `documents` scans carry the
    // new-drop filter). Recall equals the full pipeline's: bucketings
    // are identical, so the candidate set IS the full candidate set
    // restricted to pairs touching the drop. Output = q_dedup_minhash
    // restricted to those pairs (AnnSpec pins that equality too); the
    // oracle is the exact-Jaccard twin with the same restriction.
    // At 100 TB: the index is the standard amortized artifact (constant
    // bytes/doc); each drop's cost scales with the drop, not the corpus.
    "q_dedup_incremental" -> ((s, d) => {
      val isNew = col("doc_id") % 10 === 3
      val tag = FixtureLayout.contentTag(d, Seq("documents"))
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_mhidx_$tag"
      def corpusSh = Tables(s, d, "documents").filter(!isNew)
        .select(col("doc_id"),
          graft.functions.ShingleHash60(s, col("text"), 3, distinct = true)
            .as("sh"))
      val idxBands = FixtureLayout.ensureBucketedTable(s,
        s"graft_mhidx_${tag}_bands", s"$base/bands", "bucket", 8) {
        bandedFrom(corpusSh)
      }
      val idxDocs = FixtureLayout.ensureBucketedTable(s,
        s"graft_mhidx_${tag}_docs", s"$base/docs", "doc_id", 8) {
        corpusSh
      }
      // eager: one sketch pass feeds banding + verify
      val newSh = persistEager(Tables(s, d, "documents")
        .filter(isNew)
        .select(col("doc_id"),
          graft.functions.ShingleHash60(s, col("text"), 3, distinct = true)
            .as("sh")))
      val newBanded = persistEager(bandedFrom(newSh))
      val candOld = newBanded.as("a").join(idxBands.as("b"),
          col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket"))
        .select(least(col("a.doc_id"), col("b.doc_id")).as("d1"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("d2"))
      val candNew = newBanded.as("a").join(newBanded.as("b"),
          col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      val cand = candOld.unionByName(candNew).dropDuplicates("d1", "d2")
      verifiedPairs(cand, newSh.unionByName(idxDocs)).orderBy("d1", "d2")
    }),

    // Duplicate-cluster assignment — the step a real curation pipeline
    // runs AFTER pair generation: connected components over the near-dup
    // graph, one canonical doc per cluster (keep it, drop the rest).
    // Edges are the exact-Jaccard-verified minhash pairs above; every doc
    // is a node (singletons form their own cluster). cluster_id = min
    // doc_id reachable, the usual deterministic canonical choice.
    //
    // Algorithm: min-label propagation to fixpoint — labels start as own
    // doc_id; each round every node takes min(own, neighbors' labels);
    // converged when the global label sum stops falling (labels only
    // ever decrease, so the sum is a monotone convergence witness — one
    // cheap agg action per round, no change-join). Rounds = component
    // diameter; near-dup clusters out of an LSH+verify pipeline are
    // clique-dense and shallow (diameter 1-2), so this beats the
    // O(log n)-round large-star/small-star alternation in practice —
    // that rewrite is the named fallback if a corpus ever chains dups
    // into long paths.
    //
    // Scale shape: edge set is O(near-dup pairs) — FAR smaller than the
    // corpus — and the iteration runs over the near-dup SUBGRAPH only
    // (docs with >= 1 edge; singletons rejoin at the end), so each round
    // shuffles O(subgraph), not O(corpus). Edges and each round's labels
    // are localCheckpoint'ed: an iterative plan otherwise GROWS — every
    // round's logical plan re-embeds the upstream DAG (persist caches
    // execution, not planning), and by round k Catalyst is re-optimizing
    // k copies of the minhash pipeline driver-side. Checkpointing cuts
    // the plan to a LogicalRDD leaf. On a multi-node cluster prefer
    // reliable checkpoint() (localCheckpoint blocks die with an
    // executor); block cleanup is the ContextCleaner's, frames are
    // O(subgraph).
    "q_dedup_cluster" -> ((s, d) => dedupCluster(s, d)),

    // The end-to-end curation verdict a migrating pipeline user actually
    // runs: per doc, the language call, the quality score, exact-dup
    // canonicality (first doc_id of its md5 digest group) and near-dup
    // canonicality (cluster representative), folded into one keep/drop
    // flag (keep = en AND quality >= 0.15 AND both canonical bits).
    // Composed from the individually-oracle-proven operators via the
    // SHARED column helpers (withLangCols/withQualityCols), so the
    // composition cannot drift from the parts; the oracle composes the
    // same SQL twins, so the COMPOSITION is checked, not just the parts.
    // Scale shape (round-5): lang + quality + exact-dup canonicality all
    // ride ONE documents scan — stateless projections plus a single
    // digest-keyed window — instead of three scans and two doc_id joins;
    // the only join left is with the near-dup cluster verdict, whose
    // minhash pipeline is inherently its own subgraph iteration.
    "q_curation_keep" -> ((s, d) => {
      // Round-18 re-plan (guide §2.3/§2.4): the old shape paid TWO
      // digest passes — its own rn window, which shuffled the full text
      // PLUS every lang/quality column by digest, and dedupCluster's
      // internal class assignment — and dedupCluster's cluster_size
      // window, which this operator never reads. Both canonicality bits
      // now ride the ONE shared TextOps.classes frame (ids-only digest
      // shuffle; exact_canonical = doc_id == cdoc IS the old rn = 1),
      // lang/quality stay stateless projections on the scan, and the
      // near-dup side stops at the per-doc label fan-back (no size
      // window).
      val (c, pairs) = minhashClasses(s, d)
      val near = clusterPerDoc(c, dedupClusterLabelsFrom(pairs))
        .select(col("doc_id"),
          (col("doc_id") === col("cluster_id")).as("near_canonical"))
      val base = TextOps.withQualityCols(TextOps.withLangCols(
          Tables(s, d, "documents")))
        .select(col("doc_id"), col("pred_lang"), col("quality"))
      val out = base
        .join(c.mem.select(col("doc_id"),
          (col("doc_id") === col("cdoc")).as("exact_canonical")),
          "doc_id")
        .join(near, "doc_id")
        .select(col("doc_id"), col("pred_lang"), col("quality"),
          col("exact_canonical"), col("near_canonical"),
          (col("pred_lang") === "en" && col("quality") >= 0.15 &&
            col("exact_canonical") && col("near_canonical")).as("keep"))
      out.orderBy("doc_id")
    }),
  )

  /** Per-doc (doc_id, cluster_id) fan-back off the canonical-graph
    * labels — the shared core of q_dedup_cluster (which adds the
    * cluster_size window) and q_curation_keep (which needs only
    * canonicality, so it skips that window entirely).
    *
    * The CC fixpoint runs on the CANONICAL class graph (round 18, r17
    * verdict #1) and labels fan back by digest class. Raw component
    * structure = canonical component structure expanded by class
    * membership:
    *   - a doc whose class canonical carries a canonical-graph label L
    *     is labeled L (within-class jaccard-1 edges glue every member
    *     to its canonical, which connects onward; the canonical-graph
    *     component min IS the raw component min, because every class
    *     canonical is its class's min doc_id);
    *   - a shingled dup class (cnt >= 2, >= 1 shingle) with NO
    *     canonical-graph edge is a raw component of exactly its own
    *     members — label = cdoc;
    *   - everything else (singleton class with no verified partner, or
    *     a shingle-less class whose members have no bands and hence no
    *     candidates, on the raw plan too) is a raw singleton — label =
    *     own doc_id.
    * The corpus never rejoins by a second scan: the membership frame
    * already carries every doc_id. */
  private def clusterPerDoc(c: TextOps.Classes, labels: DataFrame)
      : DataFrame =
    if (!c.fanOut)
      c.mem.select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("cluster_id"))
    else
      c.mem
        .join(c.sh.select(col("ckey"),
          (size(col("sh")) > 0).as("has_sh")), "ckey")
        .join(labels.select(col("doc_id").as("cdoc"), col("label")),
          Seq("cdoc"), "left")
        .select(col("doc_id"),
          coalesce(col("label"),
            when(col("cnt") >= 2 && col("has_sh"), col("cdoc"))
              .otherwise(col("doc_id"))).as("cluster_id"))

  private def dedupCluster(s: SparkSession, d: String): DataFrame = {
    val (c, pairs) = minhashClasses(s, d)
    val csz = Window.partitionBy("cluster_id")
    clusterPerDoc(c, dedupClusterLabelsFrom(pairs))
      .withColumn("cluster_size", count(lit(1)).over(csz))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** The SUBGRAPH label fixpoint of [[dedupClusterFrom]] without the
    * corpus join-back — (doc_id, label) for every doc with >= 1 near-dup
    * edge, label = component-min doc_id, checkpointed. The round-16
    * q_dedup_report seam: the report's two cluster metrics (cluster
    * count, non-canonical doc count) are functions of the SUBGRAPH alone
    * — every subgraph component has >= 2 members (each node carries an
    * edge) and every singleton is its own canonical cluster of size 1 —
    * so the report skips the full-corpus left join + cluster_size window
    * the per-doc operator genuinely needs. */
  private[queries] def dedupClusterLabelsFrom(rawPairs: DataFrame)
      : DataFrame = {
    // Materialize the pair pipeline ONCE, then truncate its whole DAG
    // out of the loop's plans (every round's plan would re-embed it
    // otherwise): one narrow explode emits both directions, so the
    // checkpoint reads the pairs once.
    propagateMinLabels(checkpointed(symmetricEdges(rawPairs, "d1", "d2")))._1
  }

  /** (src, dst) in both directions of each (`a`, `b`) pair — the
    * symmetric edge list [[propagateMinLabels]] iterates over. */
  private[queries] def symmetricEdges(pairs: DataFrame, a: String,
      b: String): DataFrame =
    pairs.select(explode(array(
        struct(col(a).as("src"), col(b).as("dst")),
        struct(col(b).as("src"), col(a).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** Min-label propagation with pointer doubling over a symmetric edge
    * list (`src`, `dst` — both directions present; caller checkpoints).
    * Returns the per-node component labels (component MIN doc_id) and
    * the number of rounds executed (including the final no-change
    * detection round) so the O(log n) convergence contract is
    * spec-pinnable.
    *
    * Iterates over the near-dup SUBGRAPH only — docs with at least one
    * edge (`src` covers every such doc since both directions are in
    * `edges`). Singletons never change label, so looping them through
    * every round would shuffle the whole corpus per round for nothing;
    * at 100 TB the subgraph is typically a few percent of the docs.
    * Callers rejoin them via a left join.
    *
    * Each round is neighbor-min THEN pointer doubling (path halving:
    * follow label -> label(label) once). Pure neighbor-min is
    * O(diameter) rounds, so a pathological CHAIN of near-dups (crawl
    * mirrors re-mirrored) degrades to O(n) rounds; with the shortcut
    * the frontier distance ~doubles per round and convergence is
    * O(log n) (round-10 verdict #4 — the large-star/small-star idea
    * from the connected-components-in-MapReduce literature, expressed
    * as one extra O(nodes) self-join, far cheaper than the edge join it
    * shortcuts). A label is always the doc_id of a subgraph node
    * (labels only ever move DOWN through ids present in the label
    * frame), so the lookup is a left self-join; the fixpoint —
    * component-min — is unchanged by the shortcut, which is why
    * q_dedup_cluster's oracle hash is identical with and without it. */
  // NB round 15 briefly narrowed spark.sql.shuffle.partitions for the
  // loop (one partition per ~500k edges) on the strength of a profiled
  // 3.9s->2.5s win for the entity-cluster fixpoint on a LOADED host.
  // The quiet full-suite gate refuted it: every consumer of the MINHASH
  // cluster fixpoint (q_dedup_cluster, q_dedup_report, q_curation_keep)
  // regressed ~2x band-normalized while non-narrowed graph loops sat at
  // the host band — width-1 rounds serialize the per-round edge join on
  // one core, and the per-task overhead the narrowing saves is smaller
  // than the parallelism it forfeits. Reverted; it also mutated
  // session-global conf mid-build (round-15 review finding). Lesson
  // pinned here: adjudicate loop-width experiments on quiet full-suite
  // medians, never a targeted-run profile.
  /** Eagerly checkpoint a (doc_id, label) frame and return it with its
    * label sum — the per-round convergence witness — WITHOUT a second
    * job (round 16; the sum rides the checkpoint's own action as a
    * Dataset.observe metric — machinery now shared via
    * queries.checkpointed, round 17). coalesce: an edgeless
    * corpus gives an EMPTY frame and a null sum — 0, not an NPE. */
  private def checkpointedWithLabelSum(df: DataFrame): (DataFrame, Long) =
    checkpointed(df, coalesce(sum(col("label")), lit(0L)))

  private[graft] def propagateMinLabels(edges: DataFrame)
      : (DataFrame, Int) = {
    // Seed = the first neighbor-min step as ONE groupBy over the edge
    // list itself (round 16): the old own-id seed spent its entire
    // first loop round — an edges-join-labels shuffle plus two label
    // self-joins — computing exactly this aggregate. `src` covers every
    // subgraph node (both directions are present), and min(own,
    // neighbors) is always the id of a component member, so the loop
    // invariants (labels are subgraph node ids, only ever decrease,
    // fixpoint = component min) hold from the seeded state; clique-dense
    // near-dup graphs now converge in ONE loop round (the detection
    // round) instead of two.
    var (labels, labelSum) = checkpointedWithLabelSum(edges
      .groupBy(col("src").as("doc_id")).agg(min(col("dst")).as("nmin"))
      .select(col("doc_id"),
        least(col("doc_id"), col("nmin")).as("label")))
    var converged = false
    var rounds = 0
    while (!converged) {
      // NB round 17 A/B-tested the r16-verdict-#4 fusion — folding the
      // path-halving lookup into the neighbor-min join by unioning the
      // pointer edges (v -> label(v)) into the edge join's input (one
      // groupBy computes min(neighbor labels, label(label(v))); ~2
      // exchanges and the double-executed stepped-subtree saved per
      // round). It REGRESSED 10-15% on every CC consumer (n=3
      // targeted-bench medians: q_entity_cluster 9.69->11.10 s,
      // q_graph_components 9.16->10.97, q_dedup_cluster 3.42->3.95,
      // q_curation_keep 5.50->6.01): halving against the PREVIOUS
      // round's labels instead of the just-stepped ones costs one extra
      // round (simulated: chain-16 5 vs 4 incl. detection), and a full
      // round (edge join + checkpoint) costs more than the self-join it
      // saves. Kept the sequential two-join round.
      // NB round 18 also A/B-tested folding the OWN-label retention into
      // the neighbor-min groupBy via per-node self-loops (edges ∪ (v,v)
      // rows derived from the round's label frame — bit-identical label
      // sequence, one join fewer per round on paper). It measured
      // 15-20% WORSE warm on q_graph_components (TimeOne n=5 both
      // trees, 4.8-6.3 s → 5.7-7.2 s): the retention join below is a
      // node-sized BROADCAST left join (nbrMin is tiny), while the
      // self-loop union inflates the shuffled edge join AND the groupBy
      // input by |nodes| rows per round. Kept the two-join round.
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("dst"),
          col("label").as("nl")), "dst")
        .groupBy("src").agg(min("nl").as("nmin"))
        .withColumnRenamed("src", "doc_id")
      val stepped = labels.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("nmin"), col("label")))
            .as("label"))
      val halved = stepped.as("l")
        .join(stepped.select(col("doc_id").as("label"),
          col("label").as("ll")).as("p"), Seq("label"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("ll"), col("label")))
            .as("label"))
      // truncates round-k lineage AND plan; sum rides the same job
      val (next, nextSum) = checkpointedWithLabelSum(halved)
      labels = next
      rounds += 1
      converged = nextSum == labelSum
      labelSum = nextSum
    }
    (labels, rounds)
  }

  /** SimHash near-dup pairs from an exploded (doc_id, h) shingle-hash
    * frame — extracted (round 15) so q_dedup_report can feed it from its
    * one shared shingle cache instead of paying a second ShingleHash60
    * corpus pass. Returns the unordered pair list (d1, d2, hamming). */
  private[queries] def simhashPairsOf(shEx: DataFrame): DataFrame = {
    val mask48 = (1L << 48) - 1
    // b is a Scala literal per agg column, so plain integer shifts work
    // (and codegen them) — no double math in the hot 48-agg loop.
    val bitAggs = (0 until 48).map { b =>
      sum(shiftright(col("h").bitwiseAND(mask48), b).bitwiseAND(1L))
        .as(s"b$b")
    }
    val sig = shEx.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), bitAggs: _*)
      .select(col("doc_id"),
        (0 until 48).map(b =>
          when(col(s"b$b") * 2 > col("n"), lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("bits"))
    // Persisted for the same reason as minhash's banded frame: the
    // candidate self-join would otherwise run the 48-bit-agg sig
    // pipeline twice. O(docs x 4) rows of (bits, chunk) — tiny.
    // eager fill: one sig pass, not a per-side race
    val chunked = persistEager(sig
      .select(col("doc_id"), col("bits"),
        posexplode(array((0 until 4).map(c =>
          shiftright(col("bits"), c * 12).bitwiseAND(0xFFFL)): _*)))
      .withColumnRenamed("col", "v").withColumnRenamed("pos", "c"))
    chunked.as("a").join(chunked.as("b"),
        col("a.c") === col("b.c") && col("a.v") === col("b.v") &&
        col("a.doc_id") < col("b.doc_id") &&
        bit_count(col("a.bits").bitwiseXOR(col("b.bits"))) <= 3)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        bit_count(col("a.bits").bitwiseXOR(col("b.bits")))
          .cast("long").as("hamming"))
      .dropDuplicates("d1", "d2")
  }

  private val sketchQ: Map[String, Q] = Map(
    // 48-bit SimHash via 48 parallel bit-sum aggregates; 4 banding chunks
    // of 12 bits; exact Hamming <= 3 on candidates. The signature is ONE
    // packed long (bit b set iff the majority vote), so banding is a
    // shift/mask and the Hamming verify is bit_count(xor) INSIDE the join
    // condition — all codegen'd. (The original kept a 48-element 0/1
    // array and computed chunks + Hamming through interpreted
    // higher-order aggregate/zip_with per row/pair: 2.5x slower at sf0.1
    // once each query pays its own sig build — round-4 bench.)
    "q_dedup_simhash" -> ((s, d) =>
      simhashPairsOf(shingleHashes(s, d)).orderBy("d1", "d2")),

    // IVF-bucketed ANN: nprobe=2 of 8 cells (see ivfKnn for the structure;
    // no oracle — approximate; AnnSpec pins nprobe=cells == brute force).
    "q_ann_ivf" -> ((s, d) => ivfKnn(s, d, nprobe = 2)),

    // IVF over Lloyd-TRAINED centroids (round 5): 2 k-means rounds where
    // assignment is the same zero-shuffle ivf_top_cells projection and
    // the update is one (cell, dim) two-phase agg (O(cells x dims) rows
    // to the driver, never the corpus). No oracle (approximate); AnnSpec
    // pins nprobe=cells == brute force (holds for ANY centroids),
    // training determinism, and that training does not worsen the mean
    // assigned-cell score.
    "q_ann_ivf_trained" -> ((s, d) => ivfKnnTrained(s, d, nprobe = 2)),

    // IVF + product quantization with exact rerank (round 7): the
    // compressed-index ANN scale path — candidates ride the join as
    // 8-byte codes + a stored norm, only the ADC top-64 shortlist
    // rejoins raw vectors. Codebooks Lloyd-trained on coarse-cell
    // residuals (2 rounds, data-point seeded). No oracle (approximate);
    // AnnSpec pins full-shortlist == brute force, training determinism,
    // and shortlist recall (measured 1.0 on the fixture).
    "q_ann_ivfpq" -> ((s, d) =>
      ivfPqKnn(s, d, nprobe = 2, shortlist = 64,
        books = trainPqBooks(s, d, iters = 2))),

    // ANN search against the PERSISTED IVF+PQ index (round 8): the new
    // drop (vec_id % 10 = 3) probes the stored coded corpus; codebooks
    // are read, never retrained. No oracle (approximate); AnnSpec pins
    // the brute-force degradation, stored-model stability, and plan shape.
    "q_ann_search_incremental" -> ((s, d) =>
      ivfPqSearchStored(s, d, nprobe = 2, shortlist = 64)),

    // Sign-LSH (random-hyperplane) embedding near-dup — the 100-TB shape
    // for q_dedup_embedding, which broadcasts the corpus (round-3 verdict
    // #2). Contract: for each vector, its best bucket-mate within Hamming
    // <= 11 over a 48-bit sign signature (best = max 6dp cosine, nn_id
    // tie-break), plus an is_near_dup flag at cosine >= 0.4.
    //
    // Why signature-space, not cosine-recall: the fixture embeddings are
    // RANDOM (no planted high-cosine pairs; max pair cosine 0.51 at
    // sf0.01), so no margin argument a la minhash can equate an LSH
    // candidate set with the exact-NN output at cosine 0.4 — sign-LSH
    // recall at theta(0.4)=66deg is a coin flip per bit. Instead the
    // operator is DETERMINISTIC the same way q_dedup_simhash is: 12
    // banding chunks of 4 bits guarantee by pigeonhole that every pair
    // within Hamming 11 shares a chunk, so banding provably loses nothing
    // (AnnSpec pins LSH == brute-force-Hamming at sf0.001), and the
    // oracle is a full SQL twin computing the identical signature.
    //
    // Scale shape: signature build is a stateless codegen'd projection
    // over driver-literal planes (zero shuffles, like the IVF centroids);
    // candidates come from a (chunk, value) equi-join — the corpus is
    // NEVER broadcast and never crossed with itself. Candidate volume is
    // data-dependent: near-dups at cosine >= 0.9 flip ~10% of bits
    // (expected Hamming 4.9 of 48), so Hamming <= 11 keeps recall ~0.999
    // while unrelated docs (cosine ~0, expected Hamming 24, sd 3.3)
    // collide in a 4-bit chunk at ~2^-4 rates prunable by the packed
    // bit_count filter INSIDE the join. On this all-random fixture most
    // pairs share some chunk — an adversarial worst case no sublinear
    // method escapes; the exact verify then prunes to the tiny Hamming
    // ball. At 100 TB: one shuffle of O(rows x chunks) 16-byte keys.
    "q_dedup_embedding_lsh" -> ((s, d) => {
      import graft.functions.DotProduct
      // (vec_id, embedding, nrm, 48-bit packed sig) — read three times
      // (both join sides + the keep-all-vectors left join); persisted so
      // the 48-plane projection runs once. Zero-norm vectors are dropped
      // up front: their cosine is undefined (NaN) on both engines.
      // eager fill: one signature pass for all three reads
      val sig = persistEager(Tables.spread(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"),
          sqrt(DotProduct(s, col("embedding"), col("embedding"))).as("nrm"),
          rpSig(s, "embedding").as("bits"))
        .filter(col("nrm") > 0))
      val flat = sig.select(col("vec_id"), col("bits"),
        posexplode(array((0 until rpChunks).map(c =>
          shiftright(col("bits"), c * 4).bitwiseAND(15L)): _*)))
        .withColumnRenamed("pos", "c").withColumnRenamed("col", "v")
      // Hamming filter INSIDE the join: bit_count over the packed longs
      // runs before any row materializes, so the all-random worst case
      // costs compare-and-drop, not a shuffle of n^2/16 candidate rows.
      val cand = flat.as("a").join(flat.as("b"),
          col("a.c") === col("b.c") && col("a.v") === col("b.v") &&
          col("a.vec_id") =!= col("b.vec_id") &&
          bit_count(col("a.bits").bitwiseXOR(col("b.bits"))) <= rpHamMax)
        .select(col("a.vec_id").as("vid"), col("b.vec_id").as("nid"),
          bit_count(col("a.bits").bitwiseXOR(col("b.bits")))
            .cast("long").as("hamming"))
        .dropDuplicates("vid", "nid")
      val scored = cand
        .join(sig.select(col("vec_id").as("vid"),
          col("embedding").as("ea"), col("nrm").as("na")), "vid")
        .join(sig.select(col("vec_id").as("nid"),
          col("embedding").as("eb"), col("nrm").as("nb")), "nid")
        .select(col("vid"), col("nid"), col("hamming"),
          round(DotProduct(s, col("ea"), col("eb"))
            / (col("na") * col("nb")), 6).as("cos_sim"))
      val w = Window.partitionBy("vid")
        .orderBy(col("cos_sim").desc, col("nid").asc)
      val best = scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vid").as("vec_id"), col("nid").as("nn_id"),
          col("hamming"), col("cos_sim"))
      val verdicts = sig.select("vec_id").join(best, Seq("vec_id"), "left")
        .select(col("vec_id"), col("nn_id"), col("hamming"), col("cos_sim"),
          coalesce(col("cos_sim") >= 0.4, lit(false)).as("is_near_dup"))
      verdicts.orderBy("vec_id")
    }),
  )

  lazy val q: Map[String, Q] = pairQ ++ sketchQ ++ semQ

  // ------------------------------------------------- sign-LSH parameters

  private[graft] val rpBits = 48
  private[graft] val rpChunks = 12 // 4 bits each
  /** Pigeonhole: a pair within Hamming rpHamMax differs in at most 11 of
    * 12 chunks, so it MATCHES in at least one — banding recall is exactly
    * 1 for the declared radius, not probabilistic. */
  private[graft] val rpHamMax = rpChunks - 1

  /** Deterministic hyperplane components in [-1, 1), derived from md5 like
    * the IVF centroids so the DuckDB twin regenerates them bit-identically:
    * (60-bit md5 prefix % 1000) / 500.0 - 1.0 in double, both engines. */
  private val planeW: IndexedSeq[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(s: String): Long =
      java.lang.Long.parseLong(
        md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
          .substring(0, 15), 16)
    (0 until rpBits).map(j =>
      Array.tabulate(64)(i => (h(s"rp-$j-$i") % 1000L) / 500.0 - 1.0))
  }

  /** All 48 sign bits packed into ONE long (bit j = dot_j >= 0): Hamming
    * becomes bit_count(xor) on an 8-byte key — no 48-element arrays ride
    * the shuffle, unlike the text simhash whose bits feed chunk sums.
    *
    * The signature is the native `sign_lsh_sig` expression over the
    * driver-literal planes: the original 48x64 inlined `element_at * lit`
    * Column chain generated a `processNext()` beyond the JVM's 64 KB
    * method limit, silently dropping the whole cached-signature stage out
    * of codegen (round-4 plan audit). The expression's ascending-i loop
    * accumulates in the same left-assoc order as that chain and as
    * DuckDB's seedless list_reduce left fold, so the float sums stay
    * bitwise identical and the sign bits agree exactly across engines. */
  private[graft] def rpSig(s: SparkSession, vecCol: String): Column =
    graft.functions.SignLshSig(s, col(vecCol),
      typedLit[Seq[Seq[Double]]](planeW.map(_.toSeq)))

  // ------------------------------------------------------------ IVF ANN

  val numCells = 8

  /** Deterministic pseudo-random unit-ish centroids (same md5 derivation
    * as the hash params — reproducible anywhere). Held driver-side and
    * baked into the assignment expression as literals: 8x64 doubles is
    * nothing to broadcast, and it turns cell assignment into a stateless
    * projection with ZERO shuffles (the former crossJoin(8 centroids) +
    * window row_number shuffled 8x the corpus just to pick argmax-of-8). */
  private val centroidW: IndexedSeq[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def w(c: Int, j: Int): Double = {
      val hx = md.digest(s"ivf-$c-$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      ((java.lang.Long.parseLong(hx, 16) % 1000L) / 500.0f - 1.0f).toDouble
    }
    (0 until numCells).map(c => Array.tabulate(64)(w(c, _)))
  }

  /** Top-k nearest cells per row, statelessly via the native
    * ivf_top_cells loop over the driver-literal centroids (score =
    * dot/|c| in the same left-assoc order as the inlined chain it
    * replaces, selection (score desc, cell asc)). No Exchange anywhere
    * before the cell equi-join — and no more |cells| x 64 inlined
    * multiply-add Column nodes, which stayed under the codegen limit but
    * bloated every carrying stage's task binary to ~1.6 MiB (the round-4
    * bench's largest). */
  private def assignCells(s: SparkSession, df: DataFrame, vecCol: String,
    k: Int,
    cents: Seq[Seq[Double]] = centroidW.map(_.toSeq)): DataFrame =
    df.withColumn("cell",
      explode(graft.functions.IvfTopCells(s, col(vecCol),
        typedLit[Seq[Seq[Double]]](cents), k)))

  /** Lloyd-trained coarse centroids (round 5): seed with the derived
    * centroidW, then `iters` k-means rounds — assignment is the SAME
    * stateless ivf_top_cells projection the search uses (k=1, zero
    * shuffles), the update is one (cell, dim)-keyed two-phase aggregate
    * collecting O(cells x dims) rows to the driver (512 doubles here;
    * never the corpus). Coordinates round to 6dp each round so
    * double-sum partial-order effects cannot drift assignments between
    * otherwise-identical runs; a cell that goes empty keeps its previous
    * centroid (the standard Lloyd guard). At 100 TB one trains on a
    * hash-sample (q_sample_hash's shape) — the update agg is the only
    * corpus-sized stage and it map-side combines. */
  def trainCentroids(s: SparkSession, d: String,
    iters: Int): Seq[Seq[Double]] =
    trainCentroidsOn(s, Tables(s, d, "embeddings"), iters)

  /** trainCentroids over an arbitrary vector frame — the corpus-side
    * restriction the persisted-index path needs (train on the existing
    * corpus only, never the incoming drop). */
  def trainCentroidsOn(s: SparkSession, emb: DataFrame,
    iters: Int): Seq[Seq[Double]] = {
    var cents: Seq[Seq[Double]] = centroidW.map(_.toSeq)
    (0 until iters).foreach { _ =>
      // Exact-decimal element sums: each float rounds to the same
      // decimal(30,10) no matter the partition, and decimal addition is
      // associative/commutative — so the mean is PARTITION-ORDER
      // INDEPENDENT (a rounded double sum is not: a 1-ulp difference at
      // a .5e-6 boundary would drift a centroid between runs).
      val sums = assignCells(s, emb, "embedding", 1, cents)
        .select(col("cell"), posexplode(col("embedding")))
        .groupBy("cell", "pos")
        .agg(sum(col("col").cast("decimal(30,10)")).as("sx"),
          count(lit(1)).as("n"))
        .collect()
      val byCell = sums.groupBy(_.getInt(0))
      cents = cents.indices.map { c =>
        byCell.get(c) match {
          case Some(rows) =>
            val dim = rows.map(_.getInt(1)).max + 1
            val m = new Array[Double](dim)
            rows.foreach(r => m(r.getInt(1)) =
              (BigDecimal(r.getDecimal(2)) / BigDecimal(r.getLong(3)))
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
            m.toSeq
          case None => cents(c) // empty cell: keep previous centroid
        }
      }
    }
    cents
  }

  /** q_ann_ivf_trained: the IDENTICAL ivfKnn search (same probes, join,
    * verify, tie-breaks — one code path, so the variants can never
    * drift) over Lloyd-trained centroids instead of the fixed seeds. */
  def ivfKnnTrained(s: SparkSession, d: String,
    nprobe: Int, iters: Int = 2): DataFrame =
    ivfKnn(s, d, nprobe, trainCentroids(s, d, iters))

  /** IVF search: assign corpus rows to their nearest coarse cell (a
    * stateless projection over driver-literal centroids), probe only the
    * `nprobe` cells nearest each query, exact cosine top-5 inside the
    * visited cells. nprobe = numCells degrades to exact brute force — the
    * invariant AnnSpec pins. */
  def ivfKnn(s: SparkSession, d: String, nprobe: Int,
    cents: Seq[Seq[Double]] = centroidW.map(_.toSeq)): DataFrame = {
    val emb = Tables(s, d, "embeddings")
    val corpus = assignCells(s, emb, "embedding", 1, cents)
    val probes = assignCells(s,
      emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"),
          col("embedding").as("probe")),
      "probe", nprobe, cents)
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    corpus.join(probes, "cell") // equi-join on cell: only visited cells scan
      .select(col("probe_id"), col("vec_id"), col("cell"),
        round(graft.functions.CosineSim(s, col("embedding"), col("probe")), 6)
          .as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select("probe_id", "vec_id", "cell", "cos_sim")
      .orderBy(col("probe_id").asc, col("cos_sim").desc, col("vec_id").asc)
  }

  // ------------------------------------------- IVF-PQ (round 7)

  val pqM = 8        // subspaces (dim 64 => subDim 8)
  val pqKs = 256     // codewords per subspace => 8 bits/code (the FAISS default)
  private val pqSubDim = 64 / pqM

  /** Derived (not random) sub-codebook seeds, the centroidW recipe per
    * (subspace, codeword): reproducible from the strings alone. */
  private val pqSeedBooks: Seq[Seq[Seq[Double]]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def w(s: Int, k: Int, j: Int): Double = {
      val hx = md.digest(s"pq-$s-$k-$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      ((java.lang.Long.parseLong(hx, 16) % 1000L) / 500.0f - 1.0f).toDouble
    }
    (0 until pqM).map(s => (0 until pqKs).map(k =>
      (0 until pqSubDim).map(j => w(s, k, j)).toSeq))
  }

  /** Lloyd-trained PQ codebooks over coarse-cell RESIDUALS — the
    * trainCentroids contract transplanted to subspaces: assignment is the
    * same stateless pq_encode projection the index build uses, the
    * update is ONE (sub, code, subpos)-keyed two-phase aggregate
    * collecting O(m x ks x subDim) rows to the driver (1024 doubles
    * here; never the corpus), exact-decimal element sums + 6dp rounding
    * so codebooks are partition-order independent, and an unused
    * codeword keeps its previous value. At 100 TB training runs on a
    * hash-sample; the update agg map-side combines. */
  def trainPqBooks(s: SparkSession, d: String, iters: Int,
    cents: Seq[Seq[Double]] = centroidW.map(_.toSeq)): Seq[Seq[Seq[Double]]] =
    trainPqBooksOn(s, Tables(s, d, "embeddings"), iters, cents)

  /** trainPqBooks over an arbitrary vector frame (see trainCentroidsOn). */
  def trainPqBooksOn(s: SparkSession, embRaw: DataFrame, iters: Int,
    cents: Seq[Seq[Double]] = centroidW.map(_.toSeq)): Seq[Seq[Seq[Double]]] = {
    val coarseLit = typedLit[Seq[Seq[Double]]](cents)
    val emb = assignCells(s, embRaw, "embedding", 1, cents)
    // Seed each codeword ON a data point (the standard Lloyd init):
    // hash-range seeds sit far from the residual distribution, so
    // assignment collapses onto the few nearest seeds and unused
    // codewords never move — measured 40/256 utilization and 0.52
    // reconstruction cosine on the fixture vs near-memorization when
    // seeded from the first ks residual subvectors (deterministic by
    // vec_id; a pushdown-filtered 256-row scan at any corpus size).
    // pqSeedBooks fills in if the corpus has fewer than ks vectors.
    var books: Seq[Seq[Seq[Double]]] = {
      val rows = emb.filter(col("vec_id") < pqKs)
        .select(col("vec_id"), col("embedding"), col("cell"))
        .orderBy("vec_id").collect()
      (0 until pqM).map { sub =>
        (0 until pqKs).map { k =>
          if (k < rows.length) {
            val vec = rows(k).getSeq[Float](1)
            val cent = cents(rows(k).getInt(2))
            (0 until pqSubDim).map { j =>
              vec(sub * pqSubDim + j).toDouble - cent(sub * pqSubDim + j)
            }
          } else pqSeedBooks(sub)(k)
        }
      }
    }
    (0 until iters).foreach { _ =>
      // No barrier before the per-dim explode: pq_encode is
      // CodegenFallback, but the Generate between the two projections
      // keeps CollapseProject from inlining the encode loop per DIM.
      // Measured without the round-18 lazy cache (4 cpus, 3 passes):
      // q_ann_ivfpq 1106 -> 1255 ms at sf0.1 and 5103 -> 4913 ms at
      // sf1, inside the with-cache pass spread (534 / 614 ms).
      val enc = emb
        .select(col("cell"), col("embedding"),
          graft.functions.PqCodec.encode(s, col("embedding"), col("cell"),
            coarseLit, typedLit[Seq[Seq[Seq[Double]]]](books)).as("codes"))
      val sums = enc
        .select(col("cell"), col("codes"), posexplode(col("embedding")))
        .select(
          (col("pos") / pqSubDim).cast("int").as("sub"),
          (col("pos") % pqSubDim).as("subpos"),
          element_at(col("codes"), (col("pos") / pqSubDim).cast("int") + 1)
            .as("code"),
          // the residual component this subspace quantizes
          (col("col").cast("decimal(30,10)") -
            element_at(element_at(coarseLit, col("cell") + 1),
              col("pos") + 1).cast("decimal(30,10)")).as("r"))
        .groupBy("sub", "code", "subpos")
        .agg(sum("r").as("sr"), count(lit(1)).as("n"))
        .collect()
      val byKey = sums.map(r => ((r.getInt(0), r.getInt(1),
        r.getInt(2)), (BigDecimal(r.getDecimal(3)), r.getLong(4)))).toMap
      books = books.indices.map { sub =>
        books(sub).indices.map { k =>
          (0 until pqSubDim).map { j =>
            byKey.get((sub, k, j)) match {
              case Some((sr, n)) => (sr / BigDecimal(n))
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
              case None => books(sub)(k)(j) // unused codeword: keep
            }
          }
        }
      }
    }
    books
  }

  /** q_ann_ivfpq: IVF-PQ with exact rerank (the FAISS IVFADC+refine
    * shape). The stored index is (vec_id, cell, codes) — m bytes + a
    * cell id per vector; the ADC candidate join carries ONLY that, never
    * the float vectors. Per probe: visit `nprobe` cells, score
    * candidates by CosineSim against the pq_decode reconstruction,
    * keep the top-`shortlist` by ADC, and exact-rerank just those by
    * joining the raw vectors back. shortlist >= corpus with
    * nprobe = numCells degrades to exactly ivfKnn's brute force — the
    * AnnSpec invariant; at real settings recall is bounded by the
    * shortlist stage only, and the spec pins the fixture's measured
    * recall. Output schema/tie-breaks identical to q_ann_ivf. */
  def ivfPqKnn(s: SparkSession, d: String, nprobe: Int, shortlist: Int,
    books: Seq[Seq[Seq[Double]]],
    cents: Seq[Seq[Double]] = centroidW.map(_.toSeq)): DataFrame = {
    val coarseLit = typedLit[Seq[Seq[Double]]](cents)
    val booksLit = typedLit[Seq[Seq[Seq[Double]]]](books)
    val emb = Tables(s, d, "embeddings")
    // THE INDEX: at scale this is the stored table (codes + the exact
    // norm, not vectors). Storing |x| costs one float/vec and confines
    // ADC error to the DIRECTION term: cos(q,x) ≈ dot(q, x̂)/(|q|·|x|)
    // with the true norm, instead of also mis-estimating |x| from the
    // reconstruction (the FAISS norm-augmented IP/cosine recipe).
    // The encode projection sits below the cell join, so it runs once
    // per vector; the index is read once and is not cached (a cache
    // measured no faster, see trainPqBooks).
    val index = assignCells(s, emb, "embedding", 1, cents)
      .select(col("vec_id"), col("cell"),
        graft.functions.PqCodec.encode(s, col("embedding"), col("cell"),
          coarseLit, booksLit).as("codes"),
        sqrt(graft.functions.DotProduct(s, col("embedding"),
          col("embedding"))).as("vec_norm"))
    val probes = assignCells(s,
      emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe")),
      "probe", nprobe, cents)
    val wAdc = Window.partitionBy("probe_id")
      .orderBy(col("adc_sim").desc, col("vec_id").asc)
    val short = index.join(probes, "cell")
      .select(col("probe_id"), col("vec_id"), col("cell"), col("probe"),
        (graft.functions.DotProduct(s, col("probe"),
          graft.functions.PqCodec.decode(s, col("codes"), col("cell"),
            coarseLit, booksLit)) /
          (sqrt(graft.functions.DotProduct(s, col("probe"), col("probe"))) *
            col("vec_norm"))).as("adc_sim"))
      .withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= shortlist)
    // exact rerank: ONLY the shortlist rows rejoin the raw vectors
    val wExact = Window.partitionBy("probe_id")
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    short
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      .select(col("probe_id"), col("vec_id"), col("cell"),
        round(graft.functions.CosineSim(s, col("embedding"), col("probe")), 6)
          .as("cos_sim"))
      .withColumn("rn", row_number().over(wExact))
      .filter(col("rn") <= 5)
      .select("probe_id", "vec_id", "cell", "cos_sim")
      .orderBy(col("probe_id").asc, col("cos_sim").desc, col("vec_id").asc)
  }

  // ------------------------------ persisted IVF-PQ index (round 8)

  /** The new-drop predicate, mirroring q_dedup_incremental's contract on
    * the document side: ~10% of vectors are the incoming drop; the
    * persisted index covers the other 90%. */
  private def annIsNew = col("vec_id") % 10 === 3

  /** Build-once content-addressed IVF+PQ MODEL (coarse centroids +
    * residual codebooks), trained ONLY on the existing corpus and
    * published atomically via FixtureLayout (regenerated fixture ⇒ new
    * tag ⇒ fresh model; concurrent creators race safely). Every later
    * session/drop LOADS the model — O(cells x dim + m x ks x subDim)
    * rows, 1.5k doubles here — and retrains NOTHING. Returns
    * (centroids, books, base path). */
  private def ensureAnnModel(s: SparkSession,
    d: String): (Seq[Seq[Double]], Seq[Seq[Seq[Double]]], String, String) = {
    val tag = FixtureLayout.contentTag(d, Seq("embeddings"))
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_annidx_$tag"
    FixtureLayout.ensureDir(s"$base/model") { staging =>
      val corpus = Tables(s, d, "embeddings").filter(!annIsNew)
      val cents = trainCentroidsOn(s, corpus, 2)
      val books = trainPqBooksOn(s, corpus, 2, cents)
      import s.implicits._
      cents.zipWithIndex.flatMap { case (cw, c) =>
        cw.zipWithIndex.map { case (w, j) => (c, j, w) } }
        .toDF("cell", "pos", "w")
        .coalesce(1).write.parquet(s"$staging/centroids")
      books.zipWithIndex.flatMap { case (bk, sub) =>
        bk.zipWithIndex.flatMap { case (cw, k) =>
          cw.zipWithIndex.map { case (w, j) => (sub, k, j, w) } } }
        .toDF("sub", "code", "pos", "w")
        .coalesce(1).write.parquet(s"$staging/books")
    }
    val cents = s.read.parquet(s"$base/model/centroids").collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
    val books = s.read.parquet(s"$base/model/books").collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.groupBy(_.getInt(1)).toSeq.sortBy(_._1)
        .map(_._2.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq))
    (cents, books, base, tag)
  }

  /** q_ann_search_incremental: ANN search against the STORED index with
    * zero retraining — the production amortization the per-run-trained
    * q_ann_ivfpq lacks. First touch of a fixture trains the model on the
    * corpus side and publishes (1) the model parquet and (2) the coded
    * corpus (vec_id, cell, codes, vec_norm — m bytes + cell + one float
    * per vector) as a cell-bucketed table; every subsequent session and
    * every new probe drop pays only
    *   O(model) to load centroids+codebooks (1.5k doubles),
    *   O(drop)  to cell-assign the probes (stateless projection),
    *   the ADC equi-join against the PRE-BUCKETED coded table (arrives
    *     hashed on `cell`, no corpus-side exchange),
    *   exact rerank joining raw vectors for the top-`shortlist` only.
    * The corpus is re-encoded ZERO times (AnnSpec pins: model files'
    * mtimes stable across runs, every embeddings scan carries a %-10
    * drop/corpus filter, coded side served by the stored table). At
    * 100 TB this is the FAISS-on-a-lake shape: the coded index is the
    * standard amortized artifact, rebuilt only when the corpus snapshot
    * changes (content tag), never per query. */
  def ivfPqSearchStored(s: SparkSession, d: String, nprobe: Int,
    shortlist: Int): DataFrame = {
    val (cents, books, base, tag) = ensureAnnModel(s, d)
    val coarseLit = typedLit[Seq[Seq[Double]]](cents)
    val booksLit = typedLit[Seq[Seq[Seq[Double]]]](books)
    val emb = Tables(s, d, "embeddings")
    val idx = FixtureLayout.ensureBucketedTable(s,
      s"graft_annidx_${tag}_coded", s"$base/coded", "cell", 8) {
      assignCells(s, emb.filter(!annIsNew), "embedding", 1, cents)
        .select(col("vec_id"), col("cell"),
          graft.functions.PqCodec.encode(s, col("embedding"), col("cell"),
            coarseLit, booksLit).as("codes"),
          sqrt(graft.functions.DotProduct(s, col("embedding"),
            col("embedding"))).as("vec_norm"))
    }
    // the incoming drop IS the probe set (bounded here for a stable
    // fixture result; production passes its whole drop)
    val probes = assignCells(s,
      emb.filter(annIsNew && col("vec_id") < 50)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe")),
      "probe", nprobe, cents)
    val wAdc = Window.partitionBy("probe_id")
      .orderBy(col("adc_sim").desc, col("vec_id").asc)
    val short = idx.join(probes, "cell")
      .select(col("probe_id"), col("vec_id"), col("cell"), col("probe"),
        (graft.functions.DotProduct(s, col("probe"),
          graft.functions.PqCodec.decode(s, col("codes"), col("cell"),
            coarseLit, booksLit)) /
          (sqrt(graft.functions.DotProduct(s, col("probe"), col("probe"))) *
            col("vec_norm"))).as("adc_sim"))
      .withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= shortlist)
    val wExact = Window.partitionBy("probe_id")
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    short
      .join(emb.filter(!annIsNew).select(col("vec_id"), col("embedding")),
        "vec_id")
      .select(col("probe_id"), col("vec_id"), col("cell"),
        round(graft.functions.CosineSim(s, col("embedding"), col("probe")), 6)
          .as("cos_sim"))
      .withColumn("rn", row_number().over(wExact))
      .filter(col("rn") <= 5)
      .select("probe_id", "vec_id", "cell", "cos_sim")
      .orderBy(col("probe_id").asc, col("cos_sim").desc, col("vec_id").asc)
  }

  // ------------------------------------------------------------ SemDeDup

  /** Cluster count for the semantic-dedup partition. At 100 TB, K scales
    * with the corpus (K ~ n / target cluster size, SemDeDup's published
    * setting is 50k clusters for 1e9+ docs) — 8 keeps the fixture's cells
    * statistically meaningful (60+ vectors each). */
  private val semK = 8

  /** Semantic dedup over the embedding space (SemDeDup, Abbas et al.
    * 2023, arXiv:2303.09540): k-means-partition the corpus, then search
    * for near-duplicates only WITHIN each cluster — the trick that turns
    * O(n^2) semantic dedup into K independent O((n/K)^2) problems, with
    * the cluster assignment itself a stateless projection.
    *
    * This rebuild keeps every step engine-portable so the DuckDB twin
    * can prove it end-to-end (unlike q_ann_ivf*, whose float seed
    * centroids are not SQL-reproducible):
    *  - seed centroids = one Lloyd-style mean step from a DETERMINISTIC
    *    hash partition: bucket b = h60(vec_id) mod K, centroid = per-(b,
    *    dim) mean of the 6dp-rounded components in EXACT decimal (integer
    *    micro-units, half-up at 6dp — partition-order independent, and
    *    bit-reproducible in SQL via HUGEINT arithmetic);
    *  - centroids quantize to float32 before use (both engines cast the
    *    same doubles, IEEE round-to-nearest) so the native DotProduct
    *    kernel's array<float> contract holds without a precision fork;
    *  - assignment = argmax over cells of round(dot(x, c)/|c|, 6), ties
    *    to the lower cell id — the 6dp round absorbs double-sum
    *    partial-order ulps exactly as in q_dedup_embedding's argmax;
    *  - within-cell verify = the q_dedup_embedding declarative argmax
    *    (MaxCosMinId over (6dp cosine int, mate id): a codegen'd
    *    two-phase HashAggregate with full 64-bit ids — round 12 replaced
    *    the 33-bit packed-long max the sf1 leg caught wrapping), over
    *    pairs joined ONLY on the cell key against SMALLER vec_ids (the
    *    candidate canonical each vector would defer to).
    *
    * Scale shape: two corpus scans (seed means, assignment — at 100 TB
    * the mean trains on a hash-sample like trainCentroids), ONE shuffle
    * keyed on cell for the pair join, and a bounded O(K x dims) driver
    * collect for the centroids. Nothing all-pairs: per-cell pair volume
    * is sum_c m_c^2, the SemDeDup contract; a skewed cell is bounded by
    * raising K or sub-splitting on h60(vec_id) mod s within the cell
    * (the q_join_salted shape) — at K ~ n/1000 each cell's join fits a
    * single executor's hash table. */

  /** Shared by q_semdedup and q_knn_classify: the corpus with its
    * hash-seeded Lloyd cell assignment — (vec_id, cell, embedding, nrm).
    * See q_semdedup's Scaladoc for the full determinism contract; the
    * SQL twin of this helper is `semAssignCtes`. */
  private def semAssigned(s: SparkSession, d: String): DataFrame =
    // Spread read (round 18): the sf1 probe read q_semdedup at a c8/c32
    // ratio of 0.92 with ~24 s wall — both corpus passes (the 64-dim
    // seed explode with a per-row md5 bucket, and the K-DotProduct
    // argmax assignment) were serialized on the single-row-group fixture
    // scan. The pipeline twin's canon input is already partitioned by
    // its class machinery.
    semAssignedOf(s, Tables.spread(s, d, "embeddings"))

  /** [[semAssigned]] over an arbitrary (vec_id, embedding) corpus —
    * round-14: q_semdedup_pipeline runs the SAME assignment over the
    * exact-deduped vector set, so the helper is parameterized on the
    * source. By-name so each of the two corpus passes (seed means,
    * assignment) builds its own plan from the caller's frame. The SQL
    * twin is `semAssignCtesOf(src)`. */
  private def semAssignedOf(s: SparkSession,
      emb0: => DataFrame): DataFrame = {
      import graft.functions.DotProduct
      // live corpus with norms precomputed once (zero-norm rows carry no
      // direction — dropped on both engines, q_dedup_embedding's guard)
      def emb = emb0
        .select(col("vec_id"), col("embedding"),
          sqrt(DotProduct(s, col("embedding"), col("embedding"))).as("nrm"))
        .filter(col("nrm") > 0)
      // seed centroids: exact-decimal mean per (hash bucket, dim).
      // decimal(12,6) components sum exactly (decimal addition is
      // associative — no partition-order drift), and the mean rounds
      // half-up at 6dp in INTEGER micro-units: floor((2|S| + n)/(2n))
      // with the sign reapplied, the same arithmetic the SQL twin runs
      // in HUGEINT. O(K x dims) driver rows, never the corpus.
      val sums = emb
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "v")))
        .withColumn("b", pmod(h60(col("vec_id")), lit(semK)))
        .withColumn("x6", round(col("v").cast("double"), 6)
          .cast("decimal(12,6)"))
        .groupBy("b", "i")
        .agg(sum("x6").as("sm"), count(lit(1)).as("n"))
        .collect()
      val centD: Map[Long, Array[Double]] = sums.groupBy(_.getLong(0))
        .map { case (b, rows) =>
          val arr = new Array[Double](64)
          rows.foreach { r =>
            val smMicro = BigInt(r.getDecimal(2).movePointRight(6)
              .toBigIntegerExact)
            val n = BigInt(r.getLong(3))
            val q = if (smMicro.signum >= 0) (smMicro * 2 + n) / (n * 2)
                    else -(((-smMicro) * 2 + n) / (n * 2))
            arr(r.getInt(1)) = q.toDouble / 1e6
          }
          b -> arr
        }
      val present = centD.keys.toSeq.sorted
      val centF: Map[Long, Seq[Float]] =
        centD.map { case (b, a) => b -> a.map(_.toFloat).toSeq }
      val cnrm: Map[Long, Double] = centF.map { case (b, f) =>
        var acc = 0.0
        f.foreach(x => acc += x.toDouble * x.toDouble)
        b -> math.sqrt(acc)
      }
      // assignment: stateless argmax-of-K projection (score desc, cell
      // asc via max of (score, -cell) structs); K DotProduct kernels
      // against 64-float literals — no crossJoin, no Exchange.
      val scored = present.map { b =>
        struct(
          round(DotProduct(s, col("embedding"),
            typedLit[Seq[Float]](centF(b))) / lit(cnrm(b)), 6).as("sc"),
          lit(-b).as("nb"))
      }
      emb.withColumn("best", array_max(array(scored: _*)))
        .select(col("vec_id"), (-col("best.nb")).as("cell"),
          col("embedding"), col("nrm"))
  }

  /** The q_semdedup verdict over an assigned corpus: within-cell best
    * smaller-id mate via the width-safe declarative argmax (round 12:
    * the former 33-bit packed-long max wrapped for mate ids >= 2^33 —
    * same fix as q_dedup_embedding, caught by the sf1 leg; MaxCosMinId
    * keeps the codegen'd two-phase HashAggregate with full 64-bit ids).
    * A vec with no smaller-id mate keeps a null struct -> null
    * best_mate_id/best_cos, is_semdup false. Shared by q_semdedup and
    * q_semdedup_pipeline (round 14) — one definition, so the pipeline
    * cannot disagree with the standalone operator on the stage it
    * composes. */
  private def semVerdictsOf(s: SparkSession,
      assigned: DataFrame): DataFrame = {
    import graft.functions.{DotProduct, MaxCosMinId}
    val mates = assigned.select(col("vec_id").as("mid"), col("cell"),
      col("embedding").as("memb"), col("nrm").as("mnrm"))
    val best = assigned.join(mates, "cell")
      .filter(col("vec_id") > col("mid"))
      .select(col("vec_id"),
        round(DotProduct(s, col("embedding"), col("memb"))
          / (col("nrm") * col("mnrm")) * 1e6, 0).cast("long").as("ci"),
        col("mid"))
      .groupBy("vec_id")
      .agg(MaxCosMinId(s, col("ci"), col("mid")).as("best"))
    assigned.select("vec_id", "cell").join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        col("best.id").as("best_mate_id"),
        (col("best.cos").cast("double") / 1e6).as("best_cos"),
        coalesce(col("best.cos") >= 400000L, lit(false))
          .as("is_semdup"))
  }

  private val semQ: Map[String, Q] = Map(
    "q_semdedup" -> ((s, d) =>
      semVerdictsOf(s, semAssigned(s, d)).orderBy("vec_id")),

    // ── SemDeDup pipeline: exact-first ordering as a contract (round 14,
    // the embedding twin of q_dedup_pipeline) ────────────────────────
    // The round-13 sf1 leg measured q_semdedup at 17.9x on 10x data for
    // the same reason the text near-dup family once read 16-22x: the
    // replicated fixture feeds byte-identical vector copies straight
    // into the cell pair join, so replica-dense cells grow the
    // within-cell pair volume quadratically in per-vector duplication.
    // The declared composition order collapses it: (1) EXACT vector
    // dedup — group by the embedding array itself (byte-identical
    // replicas agree on IEEE float equality on both engines; no digest
    // arithmetic to drift), canonical = lowest vec_id, one hash shuffle
    // over the corpus; (2) the SAME semAssignedOf + semVerdictsOf
    // stages q_semdedup runs, restricted to canonical vectors — pair
    // volume returns to the distinct-vector load; (3) per-vector
    // verdict: every replica maps to its canonical (canonical_id), and
    // keep = exact-canonical with no smaller-id semantic mate (the same
    // greedy-by-id rule as the pair convention). Scale shape: one
    // array-keyed shuffle over the corpus, then every downstream stage
    // runs on distinct vectors only. The tagged frame is persistEager'd
    // (the q_dedup_minhash convention): the sem stages reference their
    // input ~5x (seed means, assignment, both pair-join sides, verdict
    // left side), and over a raw table each reference is a cheap
    // re-scan, but HERE each would re-run the corpus-wide array-keyed
    // window — the first dump of this plan showed four full
    // Exchange+Sort+Window pyramids. With the cache the window executes
    // once.
    "q_semdedup_pipeline" -> ((s, d) => {
      val w = Window.partitionBy("embedding")
      val tagged = persistEager(Tables(s, d, "embeddings")
        .select("vec_id", "embedding")
        .withColumn("rn", row_number().over(w.orderBy("vec_id")))
        .withColumn("n_copies", count(lit(1)).over(w))
        .withColumn("canonical_id", min("vec_id").over(w)))
      val canon = tagged.filter(col("rn") === 1)
        .select("vec_id", "embedding")
      val sem = semVerdictsOf(s, semAssignedOf(s, canon))
      tagged
        .select(col("vec_id"), col("n_copies"),
          (col("rn") === 1).as("exact_canonical"), col("canonical_id"))
        .join(sem, Seq("vec_id"), "left")
        .select(col("vec_id"), col("n_copies"), col("exact_canonical"),
          col("canonical_id"), col("cell"), col("best_mate_id"),
          col("best_cos"),
          coalesce(col("is_semdup"), lit(false)).as("is_semdup"),
          (col("exact_canonical")
            && !coalesce(col("is_semdup"), lit(false))).as("keep"))
        .orderBy("vec_id")
    }),

    // Embedding-space label classification (round 7) — the
    // classify-then-filter curation stage (a trained quality/domain
    // classifier scores every document; low scorers drop): here the
    // classifier is k-NN over the labeled `embeddings` fixture with the
    // q_train_val_split hash split (h60(vec_id) mod 100: < 90 train,
    // >= 90 held-out test), majority vote of the top-5 cosine
    // neighbors. The search reuses q_semdedup's cell partition, so
    // candidate generation is a cell equi-join of the 10% test slice
    // against same-cell train rows — never test x corpus. Ties are
    // fully pinned: neighbor rank (6dp cosine desc, train id asc), vote
    // (count desc, label asc). A test vector whose cell holds no train
    // rows keeps a NULL prediction (correct = false) — both engines
    // agree by the same left join.
    //
    // At 100 TB the same shape holds: the labeled train set is the
    // SMALL side (human/model labels are expensive), pre-assigned and
    // persisted like the minhash index; each scoring pass pays one
    // cell-keyed join of the new slice. AnnSpec pins split
    // disjointness, the vote arithmetic, and the equi-join-only plan.
    "q_knn_classify" -> ((s, d) => {
      import graft.functions.DotProduct
      // Round-17 (guide §1.2 / §5): the assignment projection (K
      // DotProduct kernels per row) + label join feeds train, test AND
      // the final true-label select — cached, it runs once instead of
      // three times. O(corpus) rows x (embedding + 3 scalars): small.
      val assigned = persistEager(semAssigned(s, d)
        .join(Tables(s, d, "embeddings").select("vec_id", "label"),
          "vec_id"))
      val isTest = pmod(h60(col("vec_id")), lit(100)) >= 90
      val train = assigned.filter(!isTest)
        .select(col("vec_id").as("tid"), col("cell"),
          col("embedding").as("temb"), col("nrm").as("tnrm"),
          col("label").as("tlabel"))
      val test = assigned.filter(isTest)
      val w = Window.partitionBy("vec_id")
        .orderBy(col("cos6").desc, col("tid").asc)
      val knn = test.join(train, "cell")
        .select(col("vec_id"), col("tlabel"),
          round(DotProduct(s, col("embedding"), col("temb"))
            / (col("nrm") * col("tnrm")), 6).as("cos6"), col("tid"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
      val wv = Window.partitionBy("vec_id")
        .orderBy(col("n_votes").desc, col("tlabel").asc)
      val pred = knn.groupBy("vec_id", "tlabel")
        .agg(count(lit(1)).as("n_votes"))
        .withColumn("vr", row_number().over(wv))
        .filter(col("vr") === 1)
        .select(col("vec_id"), col("tlabel").as("pred_label"),
          col("n_votes"))
      test.select(col("vec_id"), col("label").as("true_label"))
        .join(pred, Seq("vec_id"), "left")
        .select(col("vec_id"), col("true_label"), col("pred_label"),
          col("n_votes"),
          coalesce(col("pred_label") === col("true_label"), lit(false))
            .as("correct"))
        .orderBy("vec_id")
    }),

    // Per-semantic-cluster corpus summary (round 10) — the
    // cluster-inspection step between clustering and curation decisions
    // (mixture design, cluster pruning, SemDeDup-style audits): for each
    // q_semdedup cell, its size plus the top-3 characteristic tokens by
    // cluster-level tf-idf (cluster term count x ln(n_cells /
    // cluster-df)), computed over the documents whose embeddings landed
    // in the cell (fixture contract: embeddings are per-document,
    // vec_id == doc_id). Determinism is q_tfidf_keywords': the rank-3
    // cut orders by the 6dp-ROUNDED score with token tie-break.
    //
    // Scale shape: cell assignment is the shared semAssigned projection
    // (zero extra shuffles), the doc->cell attach is ONE doc_id-keyed
    // equi-join, term stats are two-phase (cell, token)/(token) aggs, and
    // n_cells is a 1-row broadcast; the per-cell window is rank<=3 so
    // WindowGroupLimit prunes before the shuffle. Nothing all-pairs, no
    // driver collect beyond semAssigned's O(K x dims) centroid step.
    "q_cluster_summary" -> ((s, d) => {
      // Round-17 (guide §1.2 / §5): the cell assignment is an
      // argmax-of-K projection (K DotProduct kernels per row) read by
      // THREE branches (sizes, the token attach, the final join) — a
      // narrow (doc_id, cell) cache runs it once instead of per branch.
      val cells = persistEager(semAssigned(s, d)
        .select(col("vec_id").as("doc_id"), col("cell")))
      val sz = cells.groupBy("cell").agg(count(lit(1)).as("n_docs"))
      val toks = Tables(s, d, "documents")
        .select(col("doc_id"),
          explode(split(lower(col("text")), " ")).as("token"))
        .filter(col("token") =!= "")
      val ctf = toks.join(cells, "doc_id")
        .groupBy("cell", "token").agg(count(lit(1)).as("ctf"))
      val cdf = ctf.groupBy("token").agg(count(lit(1)).as("cdf"))
      val nc = sz.agg(countDistinct(col("cell")).as("n_cells"))
      val scored = ctf.join(cdf, "token").crossJoin(broadcast(nc))
        .withColumn("score",
          round(col("ctf") * log(col("n_cells").cast("double")
            / col("cdf")), 6))
      val w = Window.partitionBy("cell")
        .orderBy(col("score").desc, col("token").asc)
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .join(sz, "cell")
        .select(col("cell"), col("n_docs"),
          col("rk").cast("long").as("rk"),
          col("token"), col("ctf"), col("score"))
        .orderBy(col("cell").asc, col("rk").asc)
    }),

    // Per-label embedding-space audit (round 10): centroid + cohesion
    // stats per labeled class — the class-separation health check run
    // before trusting labels for q_knn_classify-style curation (a label
    // whose members barely align with their own centroid is noise, not
    // signal). Per label: member count, centroid norm, mean and MINIMUM
    // member-to-own-centroid cosine. All arithmetic rides the proven
    // portable paths: centroids are the semAssigned exact-decimal
    // 6dp-half-up means (float32-cast before use), per-member cosine
    // rounds at 6dp, and the MEAN cosine is computed in INTEGER
    // micro-units with sign-aware half-up division — never a double
    // quotient near a rounding boundary. Scale shape: one (label, dim)
    // two-phase agg collected at O(labels x dims), centroids ride back
    // as a broadcast map literal, one stateless cosine projection + a
    // per-label agg. Nothing pairwise.
    "q_label_centroids" -> ((s, d) => {
      import graft.functions.DotProduct
      val emb = Tables(s, d, "embeddings")
        .select(col("vec_id"), col("label").cast("long").as("label"),
          col("embedding"),
          sqrt(DotProduct(s, col("embedding"), col("embedding")))
            .as("nrm"))
        .filter(col("nrm") > 0)
      val sums = emb
        .select(col("label"),
          posexplode(col("embedding")).as(Seq("i", "v")))
        .withColumn("x6", round(col("v").cast("double"), 6)
          .cast("decimal(12,6)"))
        .groupBy("label", "i")
        .agg(sum("x6").as("sm"), count(lit(1)).as("n"))
        .collect()
      val centD: Map[Long, Array[Double]] = sums.groupBy(_.getLong(0))
        .map { case (b, rows) =>
          val arr = new Array[Double](64)
          rows.foreach { r =>
            val smMicro = BigInt(r.getDecimal(2).movePointRight(6)
              .toBigIntegerExact)
            val n = BigInt(r.getLong(3))
            val q = if (smMicro.signum >= 0) (smMicro * 2 + n) / (n * 2)
                    else -(((-smMicro) * 2 + n) / (n * 2))
            arr(r.getInt(1)) = q.toDouble / 1e6
          }
          b -> arr
        }
      val centF: Map[Long, Seq[Float]] =
        centD.map { case (b, a) => b -> a.map(_.toFloat).toSeq }
      val cnrm: Map[Long, Double] = centF.map { case (b, f) =>
        var acc = 0.0
        f.foreach(x => acc += x.toDouble * x.toDouble)
        b -> math.sqrt(acc)
      }
      val centMap = typedLit(centF)
      val cnrmMap = typedLit(cnrm)
      emb
        .withColumn("cos6", round(
          DotProduct(s, col("embedding"),
            element_at(centMap, col("label")))
            / (col("nrm") * element_at(cnrmMap, col("label"))), 6))
        .withColumn("micro", round(col("cos6") * 1e6, 0).cast("long"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"), sum("micro").as("sm"),
          min("cos6").as("min_cos"))
        .withColumn("mean_cos",
          expr("""CAST(CASE WHEN sm >= 0
                   THEN (2*sm + n_vecs) DIV (2*n_vecs)
                   ELSE -((2*(-sm) + n_vecs) DIV (2*n_vecs))
                  END AS DOUBLE) / 1000000.0"""))
        .withColumn("centroid_norm",
          round(element_at(cnrmMap, col("label")), 6))
        .select("label", "n_vecs", "centroid_norm", "mean_cos", "min_cos")
        .orderBy("label")
    }),
  )

  // ------------------------------------------------------------- oracles

  /** Ground-truth connected components via recursive transitive closure
    * over the exact-Jaccard >= 0.8 edge set (the same pair SQL as the
    * minhash oracle, un-ordered, embedded as CTEs). min(reachable id)
    * == the propagation fixpoint, independent of either engine's
    * iteration order. Shared by the q_dedup_cluster and q_curation_keep
    * oracles; the enclosing WITH must be RECURSIVE. */
  private val clusterCtes =
    """sh AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substring(md5(unnest(list_distinct(
      |      [array_to_string(tok[i+1:i+3], ' ')
      |       for i in range(len(tok)-2)]))), 1, 15)) AS BIGINT) AS s
      |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS tok
      |        FROM documents)),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT d1, d2 FROM inter
      |  JOIN sz s1 ON s1.doc_id = d1
      |  JOIN sz s2 ON s2.doc_id = d2
      |  WHERE round(CAST(inter AS DOUBLE) / (s1.n + s2.n - inter), 6)
      |        >= 0.8),
      |edges AS MATERIALIZED (
      |  -- MATERIALIZED (round 12): the recursive term below re-reads
      |  -- edges every round; inlined, DuckDB would re-run the whole
      |  -- shingle self-join per round
      |  SELECT d1 AS a, d2 AS b FROM pairs
      |  UNION SELECT d2, d1 FROM pairs),
      |reach(id, r) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.b, r.r FROM reach r JOIN edges e ON e.a = r.id),
      |lab AS (SELECT id AS doc_id, min(r) AS cluster_id
      |        FROM reach GROUP BY id)""".stripMargin

  /** SQL twin of `semAssigned` — the shared cell-assignment CTE chain
    * (ce/norms/live through assign), embedded by the q_semdedup and
    * q_knn_classify oracles like `clusterCtes` is for the cluster
    * family. */
  /** SQL twin of [[semAssignedOf]], parameterized on the source CTE —
    * `semAssignCtes` (the `embeddings` instance) twins q_semdedup /
    * q_knn_classify / q_cluster_summary; q_semdedup_pipeline instantiates
    * it over its exact-deduped `canon` CTE. */
  private def semAssignCtesOf(src: String) =
    s"""ce AS (
      |  SELECT vec_id, unnest(embedding) AS v,
      |         generate_subscripts(embedding, 1) AS i
      |  FROM $src),
      |norms AS (
      |  SELECT vec_id, sqrt(SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
      |           AS nrm
      |  FROM ce GROUP BY vec_id),
      |live AS (SELECT vec_id FROM norms WHERE nrm > 0),
      |bkt AS (
      |  SELECT vec_id,
      |    CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15))
      |         AS BIGINT) % 8 AS b
      |  FROM live),
      |x6 AS (
      |  SELECT c.vec_id, c.i,
      |         CAST(round(CAST(c.v AS DOUBLE), 6) AS DECIMAL(12,6)) AS x6
      |  FROM ce c JOIN live USING (vec_id)),
      |sums AS (
      |  SELECT b, i, CAST(SUM(x6) * 1000000 AS HUGEINT) AS sm,
      |         COUNT(*) AS n
      |  FROM x6 JOIN bkt USING (vec_id) GROUP BY b, i),
      |cent AS (
      |  SELECT b, i,
      |    CAST(CAST(CASE WHEN sm >= 0 THEN (2*sm + n) // (2*n)
      |                   ELSE -((2*(-sm) + n) // (2*n)) END AS DOUBLE)
      |         / 1000000.0 AS REAL) AS cvf
      |  FROM sums),
      |cn AS (
      |  SELECT b, sqrt(SUM(CAST(cvf AS DOUBLE) * CAST(cvf AS DOUBLE)))
      |           AS cnrm
      |  FROM cent GROUP BY b),
      |dots AS (
      |  SELECT c.vec_id, ct.b AS cell,
      |         SUM(CAST(c.v AS DOUBLE) * CAST(ct.cvf AS DOUBLE)) AS dot
      |  FROM ce c JOIN live USING (vec_id) JOIN cent ct ON ct.i = c.i
      |  GROUP BY 1, 2),
      |assign AS (
      |  SELECT d.vec_id, d.cell
      |  FROM (SELECT d0.vec_id, d0.cell,
      |          ROW_NUMBER() OVER (PARTITION BY d0.vec_id
      |            ORDER BY round(d0.dot / cn.cnrm, 6) DESC, d0.cell ASC)
      |            AS rn
      |        FROM dots d0 JOIN cn ON cn.b = d0.cell) d
      |  WHERE d.rn = 1)""".stripMargin

  private val semAssignCtes = semAssignCtesOf("embeddings")

  val oracle: Map[String, String] = Map(
    // Shares the exact ground truth: LSH recall at the fixture's J-margin
    // makes the approximate and exact outputs identical (see header note).
    "q_dedup_minhash" -> TextOps.oracle("q_dedup_ngram_jaccard"),

    // The incremental result is by construction the full pair set
    // restricted to pairs touching the new drop (identical bucketing on
    // both sides), so the oracle is the same exact-Jaccard twin with
    // that restriction.
    "q_dedup_incremental" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substring(md5(unnest(list_distinct(
        |      [array_to_string(tok[i+1:i+3], ' ')
        |       for i in range(len(tok)-2)]))), 1, 15)) AS BIGINT) AS s
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS tok
        |        FROM documents)),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2, inter,
        |  round(CAST(inter AS DOUBLE) / (s1.n + s2.n - inter), 6) AS jaccard
        |FROM inter
        |JOIN sz s1 ON s1.doc_id = d1
        |JOIN sz s2 ON s2.doc_id = d2
        |WHERE round(CAST(inter AS DOUBLE) / (s1.n + s2.n - inter), 6) >= 0.8
        |  AND (d1 % 10 = 3 OR d2 % 10 = 3)
        |ORDER BY d1, d2""".stripMargin,

    "q_dedup_cluster" ->
      s"""WITH RECURSIVE $clusterCtes,
        |csz AS (SELECT cluster_id, COUNT(*) AS cluster_size
        |        FROM lab GROUP BY cluster_id)
        |SELECT l.doc_id, l.cluster_id, c.cluster_size,
        |       l.doc_id = l.cluster_id AS is_canonical
        |FROM lab l JOIN csz c USING (cluster_id)
        |ORDER BY l.doc_id""".stripMargin,

    // The composition oracle: the SAME SQL twins that individually prove
    // q_lang_id / q_quality_score / q_dedup_exact / q_dedup_cluster,
    // embedded as CTEs and folded into the keep flag — so the composed
    // pipeline is checked end-to-end, not just its parts.
    "q_curation_keep" ->
      s"""WITH RECURSIVE $clusterCtes,
        |lang AS (${TextOps.oracle("q_lang_id")}),
        |qual AS (${TextOps.oracle("q_quality_score")}),
        |ex AS (
        |  SELECT doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY md5(lower(trim(text)))
        |                       ORDER BY doc_id) = 1 AS exact_canonical
        |  FROM documents)
        |SELECT d.doc_id, lang.pred_lang, qual.quality,
        |  ex.exact_canonical,
        |  l.doc_id = l.cluster_id AS near_canonical,
        |  (lang.pred_lang = 'en' AND qual.quality >= 0.15
        |   AND ex.exact_canonical AND l.doc_id = l.cluster_id) AS keep
        |FROM documents d
        |JOIN lang ON lang.doc_id = d.doc_id
        |JOIN qual ON qual.doc_id = d.doc_id
        |JOIN ex ON ex.doc_id = d.doc_id
        |JOIN lab l ON l.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // Full SQL twin: same 48-bit simhash, same chunk banding, exact
    // Hamming <= 3 (deterministic by pigeonhole — not probabilistic).
    "q_dedup_simhash" ->
      """WITH th AS (
        |  SELECT doc_id,
        |    list_transform(
        |      list_distinct([array_to_string(tok[i+1:i+3], ' ')
        |                     for i in range(len(tok)-2)]),
        |      t -> CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT)
        |           & 281474976710655) AS hs
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS tok
        |        FROM documents)),
        |b AS (
        |  SELECT doc_id,
        |    [CASE WHEN 2 * len(list_filter(hs, h -> (h >> b) & 1 = 1))
        |               > len(hs) THEN 1 ELSE 0 END
        |     for b in range(48)] AS bits
        |  FROM th),
        |ch AS (
        |  SELECT doc_id, bits,
        |    [list_sum([bits[c*12 + j + 1] * (1 << j) for j in range(12)])
        |     for c in range(4)] AS chunks
        |  FROM b),
        |flat AS (
        |  SELECT doc_id, bits, unnest(chunks) AS v,
        |         generate_subscripts(chunks, 1) AS c
        |  FROM ch),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
        |         a.bits AS ba, b.bits AS bb
        |  FROM flat a JOIN flat b
        |    ON a.c = b.c AND a.v = b.v AND a.doc_id < b.doc_id)
        |SELECT d1, d2,
        |  CAST(list_sum([abs(ba[i+1] - bb[i+1]) for i in range(48)])
        |       AS BIGINT) AS hamming
        |FROM cand
        |WHERE list_sum([abs(ba[i+1] - bb[i+1]) for i in range(48)]) <= 3
        |ORDER BY d1, d2""".stripMargin,
    // q_ann_ivf: no oracle (approximate); contract in AnnSpec.
    // q_ann_search_incremental: no oracle (approximate); AnnSpec pins
    // brute-force degradation + stored-model stability.

    // Full SQL twin of the sign-LSH dedup: identical md5-derived planes,
    // identical left-fold dot (list_reduce is a seedless left fold, the
    // same order as the Scala reduce chain), identical packed-bits
    // signature, Hamming <= 11, exact 6dp-cosine argmax per vector.
    "q_dedup_embedding_lsh" ->
      """WITH W AS (
        |  SELECT j, list_transform(range(64), i ->
        |    (CAST(('0x' || substring(md5('rp-' || j || '-' || i), 1, 15))
        |          AS BIGINT) % 1000) / 500.0 - 1.0) AS w
        |  FROM range(48) t(j)),
        |ce AS (
        |  SELECT vec_id, unnest(embedding) AS v,
        |         generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |norms AS (
        |  SELECT vec_id, sqrt(SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS nrm
        |  FROM ce GROUP BY vec_id),
        |sig AS (
        |  SELECT e.vec_id,
        |    CAST(SUM(CASE WHEN list_reduce(
        |        list_transform(range(64),
        |          i -> CAST(e.embedding[i+1] AS DOUBLE) * W.w[i+1]),
        |        (a, b) -> a + b) >= 0
        |      THEN 1::BIGINT << W.j ELSE 0::BIGINT END) AS BIGINT) AS bits
        |  FROM embeddings e CROSS JOIN W
        |  WHERE e.vec_id IN (SELECT vec_id FROM norms WHERE nrm > 0)
        |  GROUP BY e.vec_id),
        |flat AS (
        |  SELECT vec_id, bits, c, (bits >> (c * 4)) & 15 AS v
        |  FROM sig CROSS JOIN (SELECT unnest(range(12)) AS c) t),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS vid, b.vec_id AS nid,
        |         CAST(bit_count(xor(a.bits, b.bits)) AS BIGINT) AS hamming
        |  FROM flat a JOIN flat b
        |    ON a.c = b.c AND a.v = b.v AND a.vec_id <> b.vec_id
        |  WHERE bit_count(xor(a.bits, b.bits)) <= 11),
        |emb2 AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embd
        |  FROM embeddings),
        |dots AS (
        |  -- round 12: array-native rerank — the unnest-join form invited
        |  -- DuckDB to build ce x ce (dims * n^2 rows, 48 GB of spill at
        |  -- sf1) before the cand filter; list_dot_product is the same
        |  -- ascending-i multiply-add per candidate pair
        |  SELECT c.vid, c.nid, c.hamming,
        |         list_dot_product(ea.embd, eb.embd) AS dot
        |  FROM cand c
        |  JOIN emb2 ea ON ea.vec_id = c.vid
        |  JOIN emb2 eb ON eb.vec_id = c.nid),
        |scored AS (
        |  SELECT d.vid, d.nid, d.hamming,
        |         round(d.dot / (na.nrm * nb.nrm), 6) AS cos_sim
        |  FROM dots d
        |  JOIN norms na ON na.vec_id = d.vid
        |  JOIN norms nb ON nb.vec_id = d.nid)
        |SELECT n.vec_id, s.nid AS nn_id, s.hamming, s.cos_sim,
        |       COALESCE(s.cos_sim >= 0.4, FALSE) AS is_near_dup
        |FROM norms n LEFT JOIN scored s ON s.vid = n.vec_id
        |WHERE n.nrm > 0
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY n.vec_id
        |  ORDER BY s.cos_sim DESC, s.nid ASC) = 1
        |ORDER BY n.vec_id""".stripMargin,

    // Full SQL twin of the SemDeDup pipeline: the hash-bucket seed means
    // in exact HUGEINT micro-unit arithmetic (identical half-up-at-6dp
    // rounding to the Scala BigInt path), float32-cast centroids, the
    // same 6dp-rounded argmax assignment, and the same within-cell
    // best-smaller-mate selection.
    "q_semdedup" ->
      s"""WITH $semAssignCtes,
        |emb2 AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embd
        |  FROM embeddings),
        |pd AS (
        |  -- round 12: pair the cell-mates FIRST, then one array-native
        |  -- dot per pair — the unnest-join form let DuckDB build
        |  -- ce x ce (dims * n^2/2 rows) before the same-cell filter,
        |  -- which OOM-killed the sf1 check
        |  SELECT ca.vec_id AS vid, cb.vec_id AS mid,
        |         list_dot_product(ea.embd, eb.embd) AS dot
        |  FROM assign ca
        |  JOIN assign cb ON cb.cell = ca.cell AND ca.vec_id > cb.vec_id
        |  JOIN emb2 ea ON ea.vec_id = ca.vec_id
        |  JOIN emb2 eb ON eb.vec_id = cb.vec_id),
        |scored AS (
        |  SELECT p.vid, p.mid,
        |         round(p.dot / (na.nrm * nb.nrm), 6) AS cos6
        |  FROM pd p
        |  JOIN norms na ON na.vec_id = p.vid
        |  JOIN norms nb ON nb.vec_id = p.mid)
        |SELECT ca.vec_id, ca.cell, s.mid AS best_mate_id,
        |       s.cos6 AS best_cos,
        |       COALESCE(s.cos6 >= 0.4, FALSE) AS is_semdup
        |FROM assign ca LEFT JOIN scored s ON s.vid = ca.vec_id
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY ca.vec_id
        |  ORDER BY s.cos6 DESC, s.mid ASC) = 1
        |ORDER BY ca.vec_id""".stripMargin,

    // The composition oracle (round 14): exact-first vector dedup as a
    // window over the embedding list itself, then the SAME assignment +
    // verdict twins as q_semdedup instantiated over the deduped `canon`
    // CTE — so the end-to-end ordering contract is hash-checked, not
    // just its stages.
    "q_semdedup_pipeline" ->
      s"""WITH ex AS (
        |  SELECT vec_id, embedding,
        |    ROW_NUMBER() OVER (PARTITION BY embedding ORDER BY vec_id)
        |      AS rn,
        |    COUNT(*) OVER (PARTITION BY embedding) AS n_copies,
        |    MIN(vec_id) OVER (PARTITION BY embedding) AS canonical_id
        |  FROM embeddings),
        |canon AS (SELECT vec_id, embedding FROM ex WHERE rn = 1),
        |${semAssignCtesOf("canon")},
        |emb2 AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embd
        |  FROM canon),
        |pd AS (
        |  SELECT ca.vec_id AS vid, cb.vec_id AS mid,
        |         list_dot_product(ea.embd, eb.embd) AS dot
        |  FROM assign ca
        |  JOIN assign cb ON cb.cell = ca.cell AND ca.vec_id > cb.vec_id
        |  JOIN emb2 ea ON ea.vec_id = ca.vec_id
        |  JOIN emb2 eb ON eb.vec_id = cb.vec_id),
        |scored AS (
        |  SELECT p.vid, p.mid,
        |         round(p.dot / (na.nrm * nb.nrm), 6) AS cos6
        |  FROM pd p
        |  JOIN norms na ON na.vec_id = p.vid
        |  JOIN norms nb ON nb.vec_id = p.mid),
        |sem AS (
        |  SELECT ca.vec_id, ca.cell, s.mid AS best_mate_id,
        |         s.cos6 AS best_cos,
        |         COALESCE(s.cos6 >= 0.4, FALSE) AS is_semdup
        |  FROM assign ca LEFT JOIN scored s ON s.vid = ca.vec_id
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY ca.vec_id
        |    ORDER BY s.cos6 DESC, s.mid ASC) = 1)
        |SELECT e.vec_id, e.n_copies, e.rn = 1 AS exact_canonical,
        |       e.canonical_id, m.cell, m.best_mate_id, m.best_cos,
        |       COALESCE(m.is_semdup, FALSE) AS is_semdup,
        |       (e.rn = 1 AND NOT COALESCE(m.is_semdup, FALSE)) AS keep
        |FROM ex e LEFT JOIN sem m ON m.vec_id = e.vec_id
        |ORDER BY e.vec_id""".stripMargin,

    // k-NN classification twin: identical cell assignment, identical
    // h60-mod-100 split, identical (cos6 desc, id asc) neighbor rank
    // and (votes desc, label asc) majority tie-break.
    "q_knn_classify" ->
      s"""WITH $semAssignCtes,
        |lbl AS (
        |  SELECT a.vec_id, a.cell, e.label,
        |    CAST(('0x' || substring(md5(CAST(a.vec_id AS VARCHAR)), 1, 15))
        |         AS BIGINT) % 100 >= 90 AS is_test
        |  FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id),
        |pd AS (
        |  SELECT t.vec_id, tr.vec_id AS tid, tr.label AS tlabel,
        |         SUM(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)) AS dot
        |  FROM lbl t
        |  JOIN lbl tr ON tr.cell = t.cell AND NOT tr.is_test
        |  JOIN ce a ON a.vec_id = t.vec_id
        |  JOIN ce b ON b.vec_id = tr.vec_id AND b.i = a.i
        |  WHERE t.is_test
        |  GROUP BY 1, 2, 3),
        |knn AS (
        |  SELECT p.vec_id, p.tlabel
        |  FROM (SELECT p0.vec_id, p0.tlabel,
        |          ROW_NUMBER() OVER (PARTITION BY p0.vec_id
        |            ORDER BY round(p0.dot / (na.nrm * nb.nrm), 6) DESC,
        |                     p0.tid ASC) AS rn
        |        FROM pd p0
        |        JOIN norms na ON na.vec_id = p0.vec_id
        |        JOIN norms nb ON nb.vec_id = p0.tid) p
        |  WHERE p.rn <= 5),
        |pred AS (
        |  SELECT vec_id, tlabel AS pred_label,
        |         CAST(count(*) AS BIGINT) AS n_votes
        |  FROM knn GROUP BY vec_id, tlabel
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
        |    ORDER BY count(*) DESC, tlabel ASC) = 1)
        |SELECT t.vec_id, t.label AS true_label, p.pred_label, p.n_votes,
        |       COALESCE(p.pred_label = t.label, FALSE) AS correct
        |FROM lbl t LEFT JOIN pred p USING (vec_id)
        |WHERE t.is_test
        |ORDER BY t.vec_id""".stripMargin,

    // Cluster-summary twin: identical cell assignment, identical
    // cluster-tf-idf arithmetic (the q_tfidf_keywords ln pattern), same
    // 6dp-rounded-score + token tie-break rank-3 cut.
    "q_cluster_summary" ->
      s"""WITH $semAssignCtes,
        |sz AS (SELECT cell, COUNT(*) AS n_docs FROM assign GROUP BY cell),
        |toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents),
        |ctf AS (
        |  SELECT a.cell, t.token, COUNT(*) AS ctf
        |  FROM toks t JOIN assign a ON a.vec_id = t.doc_id
        |  WHERE t.token <> '' GROUP BY a.cell, t.token),
        |cdf AS (SELECT token, COUNT(*) AS cdf FROM ctf GROUP BY token),
        |nc AS (SELECT COUNT(DISTINCT cell) AS n_cells FROM sz),
        |scored AS (
        |  SELECT c.cell, c.token, c.ctf,
        |    round(c.ctf * ln(CAST(nc.n_cells AS DOUBLE) / d.cdf), 6)
        |      AS score
        |  FROM ctf c JOIN cdf d USING (token) CROSS JOIN nc)
        |SELECT s.cell, z.n_docs,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY s.cell
        |    ORDER BY s.score DESC, s.token ASC) AS BIGINT) AS rk,
        |  s.token, s.ctf, s.score
        |FROM scored s JOIN sz z USING (cell)
        |QUALIFY rk <= 3
        |ORDER BY s.cell, rk""".stripMargin,

    // Label-centroid twin: identical exact-decimal 6dp-half-up centroid
    // means (HUGEINT), float32 cast, 6dp member cosines, and the
    // integer-micro-unit sign-aware half-up MEAN — no double quotient
    // near a rounding boundary anywhere.
    "q_label_centroids" ->
      """WITH ce AS (
        |  SELECT vec_id, unnest(embedding) AS v,
        |         generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |norms AS (
        |  SELECT vec_id, sqrt(SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
        |           AS nrm
        |  FROM ce GROUP BY vec_id),
        |live AS (SELECT vec_id FROM norms WHERE nrm > 0),
        |lab AS (
        |  SELECT e.vec_id, CAST(e.label AS BIGINT) AS label
        |  FROM embeddings e JOIN live USING (vec_id)),
        |x6 AS (
        |  SELECT c.vec_id, c.i,
        |         CAST(round(CAST(c.v AS DOUBLE), 6) AS DECIMAL(12,6)) AS x6
        |  FROM ce c JOIN live USING (vec_id)),
        |sums AS (
        |  SELECT l.label, x.i, CAST(SUM(x.x6) * 1000000 AS HUGEINT) AS sm,
        |         COUNT(*) AS n
        |  FROM x6 x JOIN lab l USING (vec_id) GROUP BY 1, 2),
        |cent AS (
        |  SELECT label, i,
        |    CAST(CAST(CASE WHEN sm >= 0 THEN (2*sm + n) // (2*n)
        |                   ELSE -((2*(-sm) + n) // (2*n)) END AS DOUBLE)
        |         / 1000000.0 AS REAL) AS cvf
        |  FROM sums),
        |cn AS (
        |  SELECT label, sqrt(SUM(CAST(cvf AS DOUBLE) * CAST(cvf AS DOUBLE)))
        |           AS cnrm
        |  FROM cent GROUP BY label),
        |dots AS (
        |  SELECT c.vec_id, l.label,
        |         SUM(CAST(c.v AS DOUBLE) * CAST(ct.cvf AS DOUBLE)) AS dot
        |  FROM ce c JOIN lab l USING (vec_id)
        |            JOIN cent ct ON ct.label = l.label AND ct.i = c.i
        |  GROUP BY 1, 2),
        |cos6 AS (
        |  SELECT d.vec_id, d.label,
        |         round(d.dot / (nr.nrm * cn.cnrm), 6) AS c6
        |  FROM dots d JOIN norms nr ON nr.vec_id = d.vec_id
        |              JOIN cn ON cn.label = d.label),
        |agg AS (
        |  SELECT label, COUNT(*) AS n_vecs,
        |    CAST(SUM(CAST(round(c6 * 1000000, 0) AS HUGEINT)) AS HUGEINT)
        |      AS sm,
        |    MIN(c6) AS min_cos
        |  FROM cos6 GROUP BY label)
        |SELECT a.label, CAST(a.n_vecs AS BIGINT) AS n_vecs,
        |  round(cn.cnrm, 6) AS centroid_norm,
        |  CAST(CAST(CASE WHEN a.sm >= 0
        |         THEN (2*a.sm + a.n_vecs) // (2*a.n_vecs)
        |         ELSE -((2*(-a.sm) + a.n_vecs) // (2*a.n_vecs)) END
        |       AS DOUBLE) / 1000000.0 AS DOUBLE) AS mean_cos,
        |  a.min_cos
        |FROM agg a JOIN cn USING (label)
        |ORDER BY a.label""".stripMargin,
  )
}
