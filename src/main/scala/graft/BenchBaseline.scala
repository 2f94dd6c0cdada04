package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Smear report for a full-suite graft.Bench record: the keys that read
  * far above the latest committed quiet gate row
  * (`BASELINE_r{N}_local.json`) of the same fixture. Report only, with
  * fixed thresholds: no retry, no quiet-wait, no knob. */
object BenchBaseline {
  /** Smeared = at least Ratio x the baseline time AND DeltaFloorSec
    * above it (the floor keeps 0.05 -> 0.12 s noise on trivial keys out). */
  val Ratio = 2.0
  val DeltaFloorSec = 0.3

  /** A record's {"queries": {...}} map and "sf" stamp; empty on any
    * malformed input, so a corrupt baseline never fails a run. */
  private[graft] def parseQueriesJson(json: String)
      : (Map[String, Double], Option[String]) =
    try {
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(json)
      val qs = Option(root.get("queries")).map(_.properties().asScala
        .map(e => e.getKey -> e.getValue.asDouble()).toMap)
      (qs.getOrElse(Map.empty), Option(root.get("sf")).map(_.asText()))
    } catch { case _: Exception => (Map.empty, None) }

  /** The highest-round `BASELINE_r{N}_local.json` in `dir`. */
  private[graft] def latestBaselinePath(dir: Path): Option[Path] = {
    val re = """BASELINE_r(\d+)_local\.json""".r
    try {
      val s = Files.list(dir)
      try s.iterator.asScala.flatMap(p => p.getFileName.toString match {
        case re(n) => Some((n.toInt, p))
        case _ => None
      }).maxByOption(_._1).map(_._2)
      finally s.close()
    } catch { case _: Exception => None }
  }

  /** Keys of `current` smeared against `baseline`, sorted. Keys absent
    * from the baseline or with a non-positive baseline never count. */
  private[graft] def smearedKeys(current: Iterable[(String, Double)],
      baseline: Map[String, Double], ratio: Double,
      deltaFloorSec: Double): Seq[String] =
    current.collect { case (k, v) if baseline.get(k).exists(b =>
      b > 0 && v >= b * ratio && v - b >= deltaFloorSec) => k
    }.toSeq.sorted

  /** The file name of the latest gate row in `dir` whose sf is `sfDir`,
    * and the keys of `results` smeared against it; None without one. */
  def report(dir: Path, sfDir: String, results: Seq[(String, Double)])
      : Option[(String, Seq[String])] =
    latestBaselinePath(dir).flatMap { p =>
      val (base, sf) =
        try parseQueriesJson(new String(Files.readAllBytes(p), "UTF-8"))
        catch { case _: java.io.IOException => (Map.empty[String, Double], None) }
      if (base.isEmpty || !sf.contains(sfDir)) None
      else Some(p.getFileName.toString ->
        smearedKeys(results, base, Ratio, DeltaFloorSec))
    }
}
