package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.expressions.{InSet, Levenshtein,
  Literal, PlanExpression}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.types.MapType
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression pins (round 7, VERDICT #6): PLANS.md was
  * hand-audited each round; this automates the watch. For every
  * declared batch query, the plans its build runs (PlanCapture: each
  * build-time action, then the returned frame) are canonicalized
  * (exprIds normalized by Catalyst, volatile artifacts scrubbed below)
  * and digested; the digests live in PLAN_DIGESTS.tsv at the repo root
  * and this spec fails on any unexplained drift — a silently changed
  * join strategy, a window that lost its chunked partition spec, a
  * filter that stopped pushing down.
  *
  * The same captures also count each cache's reads, the first rule of
  * the materialization contract (queries/package.scala); the fan-back
  * keys are captured again on a replicated corpus, where their
  * fan-back branch runs.
  *
  * On INTENTIONAL plan changes, regenerate the record and re-audit the
  * diff:
  *   GRAFT_UPDATE_PLAN_DIGESTS=1 sbt "testOnly graft.PlanDigestSpec"
  */
class PlanDigestSpec extends AnyFunSuite {
  import TestSpark._

  private val recordPath = "PLAN_DIGESTS.tsv"

  /** Volatile artifacts that vary across runs/hosts without the plan
    * SHAPE changing: object identity hashes, content-addressed cache
    * tags (fixture mtime-derived), temp/staging paths, AQE plan ids,
    * Observation names. */
  private def scrub(plan: String): String = plan
    .replaceAll("@[0-9a-fA-F]+", "@X")
    .replaceAll("\\$\\$Lambda\\$\\d+/0x[0-9a-f]+", "\\$\\$Lambda\\$X")
    .replaceAll("graft_(bkt|mhidx|part|buckets|src)_[0-9a-f]+", "graft_$1_TAG")
    .replaceAll("plan_id=\\d+", "plan_id=X")
    // a scan's Location value is cut at 100 chars, so a long tmpdir
    // cuts a one-path store location before its closing bracket
    .replaceAll("\\(1 paths\\)\\[file:[^\\s,\\]\\)]*\\.\\.\\.(?=,)",
      "(1 paths)[file:X]")
    // canonicalization normalizes attribute exprIds but NOT subquery
    // ids, lambda-variable ids/names, or exprIds inside an
    // InMemoryRelation's captured cached plan — all follow the
    // session's global counters (i.e. whatever ran before). Normalize
    // every #id and lambda ordinal.
    .replaceAll("#\\d+", "#X")
    .replaceAll("lambda x_\\d+", "lambda x_N")
    .replaceAll("file:[^\\s,\\]\\)]*", "file:X")
    .replaceAll("Location [A-Za-z]+\\([^\\)]*\\)\\[[^\\]]*\\]", "Location X")
    // query-stage and codegen ids left in a cached frame's executed
    // plan follow the session's counters
    .replaceAll("QueryStage \\d+", "QueryStage N")
    .replaceAll("\\*\\(\\d+\\)", "*(N)")
    // an Observation is named by a random UUID
    .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}",
      "UUID")

  /** Data a build-time action's plan splices in as literals:
    * q_quantiles' range-partition offsets (a map) and boundary ranks (an
    * INSET) come from a sample seeded by the RDD id, so they follow
    * session history while the result (validated) does not. They are
    * masked BEFORE canonicalization, which orders commutative operands
    * by hash and would otherwise flip them around the literal. */
  private def maskActionLiterals(p: SparkPlan): SparkPlan =
    p.transformAllExpressions {
      case l: Literal if l.dataType.isInstanceOf[MapType] =>
        Literal.default(l.dataType)
      case i: InSet => InSet(i.child, Set.empty)
    }

  /** Conjunct order inside a Filter condition is not canonicalized by
    * Catalyst (ExpressionSet iteration follows exprId hashes, which
    * follow the session's global counter) — A AND B == B AND A, so sort
    * the top-level conjuncts of every Filter line before hashing. */
  private def sortTopAnds(cond: String): String = {
    val parts = scala.collection.mutable.ArrayBuffer[String]()
    var depth = 0; var start = 0; var i = 0
    while (i < cond.length) {
      val c = cond.charAt(i)
      if (c == '(') depth += 1 else if (c == ')') depth -= 1
      if (depth == 0 && cond.startsWith(" AND ", i)) {
        parts += cond.substring(start, i); start = i + 5; i += 4
      }
      i += 1
    }
    parts += cond.substring(start)
    parts.sorted.mkString(" AND ")
  }

  private val filterLine = "^(.*?Filter )\\((.*)\\)\\s*$".r

  /** Split at top-level ", " (outside any parens). */
  private def splitTopCommas(s: String): Seq[String] = {
    val parts = scala.collection.mutable.ArrayBuffer[String]()
    var depth = 0; var start = 0; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '(') depth += 1 else if (c == ')') depth -= 1
      if (depth == 0 && s.startsWith(", ", i)) {
        parts += s.substring(start, i); start = i + 2; i += 1
      }
      i += 1
    }
    parts += s.substring(start)
    parts.toSeq
  }

  /** Spark 4 canonicalizes commutative conjunctions/disjunctions into
    * `multicommutativeop(args..., class, None)` whose operand ORDER
    * follows ExpressionSet hash iteration — unstable across sessions.
    * `least(`/`greatest(` children are commutative too and Canonicalize
    * reorders them BY HASHCODE — and when a child is a
    * MultiCommutativeOp, that hashCode includes a captured
    * `java.lang.Class` object whose IDENTITY hash differs per JVM fork,
    * so the child order is a per-fork coin flip (first seen round 13:
    * the PassJoin probe's `least(M - li, pi + 2)` flipped between a
    * standalone digest run and the full suite). Sort every such operand
    * list (innermost first) — Spark already declared these orders
    * meaningless by reordering them, so sorting loses no drift
    * sensitivity. */
  private val commutativeCalls =
    Seq("multicommutativeop(", "least(", "greatest(")
  private def normMulti(s: String): String = {
    val hits = commutativeCalls.map(t => (s.indexOf(t), t)).filter(_._1 >= 0)
    if (hits.isEmpty) return s
    val (idx, token) = hits.minBy(_._1)
    val open = idx + token.length - 1
    var depth = 0; var end = -1; var j = open
    while (j < s.length && end < 0) {
      val c = s.charAt(j)
      if (c == '(') depth += 1
      else if (c == ')') { depth -= 1; if (depth == 0) end = j }
      j += 1
    }
    if (end < 0) return s
    val inner = normMulti(s.substring(open + 1, end))
    s.substring(0, open + 1) + splitTopCommas(inner).sorted.mkString(", ") +
      normMulti(s.substring(end))
  }

  /** RewriteDistinctAggregates assigns distinct-group ordinals and
    * Expand slots by hash-set iteration (follows the JVM-global exprId
    * counter), so a multi-distinct aggregate's HashAggregate/Expand
    * lines are semantically-identical permutations across sessions.
    * Slot assignment can't be un-permuted textually, so those lines are
    * digested as a sorted token BAG — still sensitive to a changed
    * function, key, or type, insensitive to slot order. */
  private val bagNodes = "(HashAggregate|Expand)".r
  /** Shared bag-normalizer: keep everything up to the first match of
    * `node` verbatim, token-bag (split + sort) the rest of the line. */
  private def bagAfter(node: scala.util.matching.Regex, l: String): String =
    node.findFirstMatchIn(l).map { m =>
      val toks = l.substring(m.end).split("[^A-Za-z0-9_#.]+")
        .filter(_.nonEmpty).sorted
      l.substring(0, m.end) + "{" + toks.mkString(" ") + "}"
    }.getOrElse(l)
  private def tokenBag(l: String): String = bagAfter(bagNodes, l)

  /** A line carrying a `multicommutativeop(` is one Canonicalize has
    * already scrambled by unstable hashCodes at EVERY level — operand
    * lists, least/greatest child order, and even the orientation of a
    * comparison around it (`A <= B` vs `B >= A` flips per JVM fork via
    * the captured Class object's identity hash). No textual sort can
    * reconstruct one orientation, so these lines get the same treatment
    * as HashAggregate/Expand: a sorted token BAG — still sensitive to a
    * changed function, column, or constant; insensitive to the
    * hash-driven permutations. */
  private val anyNode = "[A-Za-z]+".r
  private def bagWholeLine(l: String): String = bagAfter(anyNode, l)

  private def normalizeLine(l: String): String = {
    val n = normMulti(l)
    if (n.contains("multicommutativeop(")) bagWholeLine(n)
    else n match {
      case filterLine(pre, cond) => pre + "(" + sortTopAnds(cond) + ")"
      case other => tokenBag(other)
    }
  }

  /** A cached frame's plan prints as executed, and AQE's final plan
    * follows which query stage finished first (which join side is
    * broadcast, for one), so a cached plan is pinned by its initial
    * plan alone: each `== Final Plan ==` block is dropped up to the
    * `== Initial Plan ==` header at its own indent. */
  private def dropFinalPlans(plan: String): String = {
    var initialHeader: Option[String] = None
    plan.linesIterator.filter { l =>
      initialHeader match {
        case Some(h) => if (l == h) { initialHeader = None; true } else false
        case None if l.trim == "+- == Final Plan ==" =>
          initialHeader = Some(l.replace("Final Plan", "Initial Plan"))
          false
        case None => true
      }
    }.mkString("\n")
  }

  private def canonical(plan: String): String =
    scrub(dropFinalPlans(plan)).linesIterator.map(normalizeLine)
      .mkString("\n")

  /** Reads of every cache one build creates, named by the cache's
    * columns, in first-seen order. Each scan of a cache in a captured
    * plan is one read, except its fill (a `count` whose only leaf is
    * that scan). A read inside another cache's build counts once,
    * however often that cache is read. */
  private def cacheReads(plans: Seq[(String, QueryExecution)])
      : Seq[(String, Int)] = {
    // a cache is its builder's one cached plan object
    val reads = new java.util.IdentityHashMap[SparkPlan, Int]()
    val order = scala.collection.mutable.ArrayBuffer[SparkPlan]()
    def visit(p: SparkPlan, fill: Boolean): Unit =
      scans(p).foreach { s =>
        val b = s.relation.cachedPlan
        val first = !reads.containsKey(b)
        if (first) { order += b; reads.put(b, 0) }
        if (!fill) reads.put(b, reads.get(b) + 1)
        if (first) visit(b, fill = false)
      }
    plans.foreach { case (action, qe) =>
      val p = qe.sparkPlan
      visit(p, fill = action == "count" && (p.collectLeaves() match {
        case Seq(_: InMemoryTableScanExec) => true
        case _ => false
      }))
    }
    order.toSeq.map(b => cacheName(b) -> reads.get(b))
  }

  /** The cache scans in `p`: a cache's build is planned adaptively
    * (read its initial plan), and sparkPlan's subqueries are still
    * logical (walk the physical). */
  private def scans(p: SparkPlan): Seq[InMemoryTableScanExec] =
    p.collect {
      case s: InMemoryTableScanExec => Seq(s)
      case a: AdaptiveSparkPlanExec => scans(a.inputPlan)
    }.flatten ++
      p.flatMap(_.expressions.flatMap(_.collect {
        case e: PlanExpression[_] => e.plan: Any
      })).collect { case q: SparkPlan => q }.flatMap(scans)

  private def cacheName(build: SparkPlan): String =
    build.output.map(_.name).mkString("cache(", ",", ")")

  /** (digest, number of build-time actions, cache reads) of one build
    * of `name`. */
  private def digest(name: String): (String, Int, Seq[(String, Int)]) = {
    // cached frames left by OTHER suites (or by previously digested
    // queries) would substitute InMemoryRelation into matching subplans
    // and make the digest depend on what ran before — always start cold
    spark.sharedState.cacheManager.clearCache()
    // default toString truncates wide plans at 25 fields ("... N more
    // fields"), which would blind the pin to drift inside the elision
    spark.conf.set("spark.sql.debug.maxToStringFields", "4000")
    // a cached frame's plan keeps raw session-global ids, and a scan's
    // metadata is cut at maxMetadataStringLength BEFORE scrub() sees
    // it, so the cut would move with the ids' widths: build with no
    // cut. Canonicalizing copies the top-level plans below, and those
    // copies are cut as before (their ids are normalized).
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000000")
    val plans =
      try PlanCapture(spark)(SparkEntry.queries(name)(spark, sf))
      finally spark.conf.unset("spark.sql.maxMetadataStringLength")
    // sorted: a build may run actions concurrently (q_dedup_report's
    // branches materialize from driver futures), so their order is not
    // part of the pin, only which plans run
    val actions = plans.init.map { case (action, qe) =>
      s"-- $action\n" +
        canonical(maskActionLiterals(qe.sparkPlan).canonicalized.toString)
    }.sorted
    val result = canonical(plans.last._2.sparkPlan.canonicalized.toString)
    val canon = (actions :+ result).mkString("\n")
    // debug aid for chasing an unstable digest: dump the exact hashed text
    sys.env.get("GRAFT_DUMP_PLANS").foreach { dir =>
      val d = new java.io.File(dir); d.mkdirs()
      Files.write(Paths.get(s"$dir/$name.txt"), canon.getBytes("UTF-8"))
    }
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 16)
    (md5, actions.size, cacheReads(plans))
  }

  /** One digest pass over every key, shared by every test. A key's
    * first build in a JVM may publish its content-addressed store, and
    * building a cold store can run actions of its own (the ANN model's
    * training collects), so a key whose build runs actions is pinned on
    * its next build, which reads the store the first one left. */
  private lazy val firstPass
      : Seq[(String, (String, Int, Seq[(String, Int)]))] =
    try SparkEntry.queries.keys.toSeq.sorted.map { n =>
      val first = digest(n)
      n -> (if (first._2 > 0) digest(n) else first)
    } finally spark.sharedState.cacheManager.clearCache()

  test("canonical plan digests match the committed record") {
    val names = firstPass.map(_._1)
    val digests = firstPass.map { case (n, (d, _, _)) => n -> d }
    if (sys.env.contains("GRAFT_UPDATE_PLAN_DIGESTS")) {
      val body = digests.map { case (n, d) => s"$n\t$d" }.mkString("\n")
      Files.write(Paths.get(recordPath), (body + "\n").getBytes("UTF-8"))
      info(s"regenerated $recordPath with ${digests.size} entries")
    } else {
      assert(Files.exists(Paths.get(recordPath)),
        s"$recordPath missing — regenerate with " +
          "GRAFT_UPDATE_PLAN_DIGESTS=1 sbt 'testOnly graft.PlanDigestSpec'")
      val recorded = scala.io.Source.fromFile(recordPath).getLines()
        .filter(_.nonEmpty).map { l =>
          val Array(n, d) = l.split("\t"); n -> d
        }.toMap
      val drifted = digests.filter { case (n, d) =>
        recorded.get(n).exists(_ != d)
      }
      val missing = digests.filterNot { case (n, _) => recorded.contains(n) }
      val stale = recorded.keySet -- names.toSet
      assert(drifted.isEmpty && missing.isEmpty && stale.isEmpty,
        s"plan digest drift — audit the plan change, then regenerate " +
          s"the record (GRAFT_UPDATE_PLAN_DIGESTS=1).\n" +
          s"  drifted: ${drifted.map(_._1).mkString(", ")}\n" +
          s"  unrecorded new queries: ${missing.map(_._1).mkString(", ")}\n" +
          s"  stale records: ${stale.mkString(", ")}")
    }
  }

  test("plan digests are self-consistent within a session") {
    // guards the pin itself against flaky inputs (object hashes, cache
    // tags, ids that follow session history) — a digest that varies
    // between two builds of the same query would make the record test
    // meaningless noise. Build-time actions are where such inputs
    // enter, so every key whose build runs one is built again, after
    // the rest of the pass has moved the session's counters on.
    val probe = firstPass.collect { case (n, (d, k, _)) if k > 0 => n -> d }
    assert(probe.nonEmpty, "no key runs a build-time action")
    try probe.foreach { case (n, d) =>
      assert(digest(n)._1 == d, s"$n digest unstable across builds")
    } finally spark.sharedState.cacheManager.clearCache()
  }

  /** The fan-back keys branch on the data: when no two documents share
    * an exact-dup class (none do in the sf0.001 fixture) they emit the
    * canonical pairs directly, and the fan-back joins that read the
    * membership cache again never run. These keys are captured once
    * more on a copy of the documents with every seventh one
    * replicated, and a cache's reads are the most either capture gives
    * it. */
  private val fanBackKeys = Seq("q_curation_keep", "q_dedup_cluster",
    "q_dedup_containment", "q_dedup_fuzzy_edit", "q_dedup_minhash",
    "q_dedup_ngram_jaccard")

  private lazy val replicatedPlans
      : Map[String, Seq[(String, QueryExecution)]] = {
    import org.apache.spark.sql.functions.col
    val fix = Files.createTempDirectory("graft-fanback").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    docs.unionByName(docs.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 10000000000L))
      .coalesce(1).write.parquet(s"$fix/documents.parquet")
    try fanBackKeys.map { n =>
      spark.sharedState.cacheManager.clearCache()
      val plans = PlanCapture(spark)(SparkEntry.queries(n)(spark, fix))
      // plan the returned frame while its caches are still registered
      plans.foreach(_._2.sparkPlan)
      n -> plans
    }.toMap finally spark.sharedState.cacheManager.clearCache()
  }

  private lazy val replicatedReads: Map[String, Seq[(String, Int)]] =
    replicatedPlans.view.mapValues(cacheReads).toMap

  /** Caches that stay although the key's plans read them fewer than
    * twice: each removal was measured to slow its key at sf0.1 or sf1
    * by more than the with-cache pass spread (rule 3 of the
    * materialization contract, queries/package.scala). Site =
    * "<key> cache(<columns>)" -> the measurement. */
  private val measuredCaches: Map[String, String] = Map(
    "q_dedup_fuzzy_edit cache(d1,d2,len1,len2,edit_dist)" -> (
      "sf1 (tools/gen_sf1.py sf0.1 x10), 4 cpus, warm passes 2-4 of " +
      "one JVM: with the cache 4357/3879/3412 ms, without it " +
      "19484/17178/16467 ms (levenshtein once per fanned row)"))

  test("every cache a build creates is read twice or kept by a measurement") {
    // reads from the digest pass's own captures (no second build),
    // and from the fan-back keys' captures on the replicated copy
    fanBackKeys.foreach { n =>
      val total = (c: Seq[(String, Int)]) => c.map(_._2).sum
      assert(total(replicatedReads(n)) > total(firstPass.toMap.apply(n)._3),
        s"$n: the replicated copy did not take the fan-back branch")
    }
    val under = firstPass.flatMap { case (n, (_, _, caches)) =>
      val again = replicatedReads.getOrElse(n, Nil)
      (caches ++ again).groupBy(_._1).toSeq.map { case (c, rs) =>
        c -> rs.map(_._2).max
      }.collect { case (c, r) if r < 2 => s"$n $c" -> r }
    }
    val unlisted = under.filterNot { case (site, _) =>
      measuredCaches.contains(site)
    }
    val stale = measuredCaches.keySet -- under.map(_._1)
    assert(unlisted.isEmpty && stale.isEmpty,
      "a cache must be read at least twice by its key's plans (its fill " +
        "not counted), or be listed in measuredCaches with the " +
        "measurement that keeps it (queries/package.scala).\n" +
        s"  read fewer than twice: ${unlisted.map { case (site, r) =>
          s"$site ($r)" }.mkString(", ")}\n" +
        s"  listed but read twice or gone: ${stale.mkString(", ")}")
  }

  test("q_dedup_fuzzy_edit evaluates levenshtein only inside its verified pairs' cache") {
    // Whole-stage codegen defers a projected column into the joins
    // above it, so over an uncached frame the fan-out joins would run
    // the DP once per fanned row. On the replicated copy, no captured
    // plan outside a cache build may evaluate it, and the one build
    // that does is the verified pairs' cache.
    def lev(p: SparkPlan): Int = p.collect {
      case a: AdaptiveSparkPlanExec => lev(a.inputPlan)
      case n => n.expressions.count(_.find(_.isInstanceOf[Levenshtein])
        .isDefined)
    }.sum
    def builds(p: SparkPlan): Seq[SparkPlan] =
      scans(p).map(_.relation.cachedPlan).flatMap(b => b +: builds(b))
    val plans = replicatedPlans("q_dedup_fuzzy_edit").map(_._2.sparkPlan)
    val outside = plans.map(lev).sum
    val inside = plans.flatMap(builds).distinct.filter(lev(_) > 0)
      .map(b => cacheName(b) -> lev(b))
    assert(outside == 0 &&
        inside == Seq("cache(d1,d2,len1,len2,edit_dist)" -> 1),
      s"levenshtein outside any cache build: $outside; " +
        s"inside: ${inside.mkString(", ")}")
  }
}
