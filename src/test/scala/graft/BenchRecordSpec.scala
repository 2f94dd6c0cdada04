package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The two stdout lines of graft.Bench: the full contract record and
  * the compact last line. Both must parse as JSON, and a last-line
  * reader must be able to tell them apart. */
class BenchRecordSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  private val (full, compact) = Bench.recordLines(
    results = Seq("q_agg_group" -> 0.12345, "q_join_multiway" -> 1.5),
    failed = Seq("q_broken"),
    only = Set("q_join_multiway", "q_agg_group", "q_broken"),
    skip = Set.empty,
    iters = 2,
    cpus = "4",
    sfDir = "/data/sf0.01",
    outPath = "BENCH_ONLY_LOCAL.json",
    smear = None)

  test("full line parses and carries the per-query map") {
    val r = mapper.readTree(full)
    assert(r.get("metric").asText() == "total")
    assert(r.get("queries").get("q_agg_group").asDouble() == 0.1235)
    assert(r.get("queries").get("q_join_multiway").asDouble() == 1.5)
    assert(r.get("value").asDouble() == 1.6235)
    assert(r.get("failed").get(0).asText() == "q_broken")
    assert(r.get("only").size() == 3)
    assert(!r.has("skipped"))
    assert(r.get("stat").asText() == "min")
    assert(r.get("cpus").asInt() == 4)
    assert(r.get("sf").asText() == "/data/sf0.01")
    assert(!r.has("compact"))
    assert(!r.has("smear_baseline"))
  }

  test("compact line parses, is marked compact and points at the file") {
    val r = mapper.readTree(compact)
    assert(r.get("metric").asText() == "total")
    assert(r.get("compact").asBoolean())
    assert(!r.has("queries"))
    assert(r.get("n_queries").asInt() == 2)
    assert(r.get("queries_file").asText() == "BENCH_ONLY_LOCAL.json")
    assert(r.get("value").asDouble() == 1.6235)
  }

  test("three or more passes report the median") {
    val (f, _) = Bench.recordLines(Seq.empty, Seq.empty, Set.empty,
      Set("q_dedup_embedding"), 3, "8", "sf", "out.json", None)
    val r = mapper.readTree(f)
    assert(r.get("stat").asText() == "median")
    assert(r.get("skipped").get(0).asText() == "q_dedup_embedding")
    assert(r.get("queries").size() == 0)
  }

  test("a smear report lists keys on the full line, counts them on the compact") {
    val (f, c) = Bench.recordLines(Seq("q_a" -> 3.0, "q_b" -> 3.0),
      Seq.empty, Set.empty, Set.empty, 2, "4", "sf", "out.json",
      Some("BASELINE_r18_local.json" -> Seq("q_a", "q_b")))
    val full = mapper.readTree(f)
    val comp = mapper.readTree(c)
    assert(full.get("smear_baseline").asText() == "BASELINE_r18_local.json")
    assert(full.get("smeared").get(1).asText() == "q_b")
    assert(comp.get("smear_baseline").asText() == "BASELINE_r18_local.json")
    assert(comp.get("n_smeared").asInt() == 2)
    assert(!comp.has("smeared"))
  }
}
