package graft

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.queries.FixtureLayout
import graft.streaming.Streams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The crash-prefix contract of the manifest protocol
  * (FixtureLayout.publishManifested), written once and instantiated per
  * streaming user: s_export_manifested, s_affinity_update and
  * s_cdc_upsert_materialize. A batch commits by staging its files in a
  * fresh `v-*` dir, writing `MANIFEST.tmp.<vid>`, renaming it over
  * MANIFEST and adding the `manifests/` history copy; only then does
  * Spark write the checkpoint's `commits/<id>`. A crash anywhere in
  * that sequence leaves `commits/<id>` missing, so the restart re-runs
  * the batch. Each prefix is built as file-system state after two real
  * batches, by undoing the last batch's commit back to the prefix:
  *
  *  - staged: the batch's `v-*` dir holds its data files, but MANIFEST
  *    still names the previous commit;
  *  - tmp: as staged, plus the `MANIFEST.tmp.<vid>` the rename never
  *    consumed;
  *  - swapped: MANIFEST names the batch, its `commits/<id>` is missing.
  *
  * For every prefix the crashed batch is invisible before the restart;
  * after it the user serves the view of an uncrashed run with the
  * history an uncrashed run leaves (a replayed commit adds no
  * `manifests/` entry), and the next vacuum reclaims what the crash
  * left behind without changing the view. */
abstract class CrashPrefixContract extends AnyFunSuite {
  def userName: String

  /** One streaming user over its own input dir and store. */
  trait User {
    /** Land batch #n's input (1-based). */
    def deliver(n: Int): Unit
    def start(checkpoint: String): StreamingQuery
    /** Normalized served view. */
    def served(): Seq[String]
    /** The manifested dir batch `id` commits into. */
    def commitDir(id: Long): String
    /** Every committed manifested dir of the store. */
    def manifestedDirs(): Seq[String]
  }
  def newUser(in: String, store: String): User

  protected def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def drain(u: User, checkpoint: String): Unit = {
    val q = u.start(checkpoint)
    try q.processAllAvailable() finally q.stop()
  }

  private def history(u: User): Int =
    u.manifestedDirs().map(FixtureLayout.listVersions(_).size).sum

  /** Undo the last MANIFEST swap in `dir`: restore the previous
    * committed manifest (none before a dir's first commit) and drop the
    * swapped version's history entry. Returns that version's id and
    * manifest body; its `v-*` dir stays behind, uncommitted. */
  private def unswap(dir: String): (String, String) = {
    val versions = FixtureLayout.listVersions(dir)
    def entry(v: (Int, String)) =
      Paths.get(dir, "manifests", f"${v._1}%06d-${v._2}")
    val body = Files.readString(entry(versions.last))
    Files.delete(entry(versions.last))
    val mf = Paths.get(dir, "MANIFEST")
    versions.init.lastOption match {
      case Some(prev) =>
        Files.copy(entry(prev), mf, StandardCopyOption.REPLACE_EXISTING)
      case None => Files.delete(mf)
    }
    (versions.last._2, body)
  }

  /** Run two batches, cut the last one back to `crash`'s prefix (which
    * returns the paths it leaves behind), restart, and check the
    * contract. */
  private def crashAndRestart(crash: String => Seq[File]): Unit = {
    val root = Files.createTempDirectory("graft-crash").toString
    val ckpt = s"$root/ckpt"
    val u = newUser(s"$root/in", s"$root/store")
    u.deliver(1); drain(u, ckpt)
    val before = u.served()
    u.deliver(2); drain(u, ckpt)
    val view = u.served()
    val hist = history(u)
    assert(view != before, "the second batch did not change the view")
    val last = new File(ckpt, "commits").list().flatMap(_.toLongOption).max
    val debris = crash(u.commitDir(last))
    // the commit entry and its checksum sidecar
    Seq(s"$last", s".$last.crc").foreach(f =>
      Files.deleteIfExists(Paths.get(ckpt, "commits", f)))
    assert(u.served() == (if (debris.isEmpty) view else before),
      "the crashed state serves neither committed view")
    drain(u, ckpt)
    assert(u.served() == view, "the restart changed the served view")
    assert(history(u) == hist, "the restart added a manifests/ entry")
    u.manifestedDirs().foreach(FixtureLayout.vacuumExport)
    assert(debris.forall(!_.exists), s"vacuum left crash debris: $debris")
    assert(u.served() == view, "the vacuum changed the served view")
  }

  test(s"$userName: crash after staging, before the swap") {
    crashAndRestart { dir =>
      val (vid, _) = unswap(dir)
      Seq(new File(dir, vid))
    }
  }

  test(s"$userName: crash with a stray MANIFEST.tmp") {
    crashAndRestart { dir =>
      val (vid, body) = unswap(dir)
      val tmp = new File(dir, s"MANIFEST.tmp.$vid")
      Files.writeString(tmp.toPath, body)
      Seq(new File(dir, vid), tmp)
    }
  }

  test(s"$userName: crash after the swap, before the checkpoint commit") {
    crashAndRestart(_ => Seq.empty)
  }
}

class ExportCrashPrefixSpec extends CrashPrefixContract {
  import TestSpark._

  override def userName = "s_export_manifested"

  override def newUser(in: String, store: String): User = new User {
    private val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    override def deliver(n: Int): Unit = {
      Files.createDirectories(Paths.get(in))
      Files.writeString(Paths.get(in, s"d$n.ndjson"), (1 to 6).map(i =>
        s"""{"doc_id":${n * 100 + i},"text":"doc $n.$i"}""").mkString("\n"))
    }
    override def start(checkpoint: String): StreamingQuery =
      Streams.exportManifested(
        spark.readStream.schema(schema).json(in), store, 2, checkpoint)
    override def served(): Seq[String] =
      rows(Streams.readManifestedExport(spark, store))
    override def commitDir(id: Long): String = s"$store/epoch=$id"
    override def manifestedDirs(): Seq[String] =
      FixtureLayout.committedEpochs(store).map(_.getPath)
  }
}

class AffinityCrashPrefixSpec extends CrashPrefixContract {
  import TestSpark._

  override def userName = "s_affinity_update"

  override def newUser(in: String, store: String): User = new User {
    private val schema = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType)))
    override def deliver(n: Int): Unit = {
      // two orders per batch: (100, 200) and (100, 200, 300)
      val lines = Seq(Seq(100L, 200L), Seq(100L, 200L, 300L)).zipWithIndex
        .flatMap { case (parts, o) =>
          parts.map(pk => s"""{"l_orderkey":${n * 10 + o},"l_partkey":$pk}""")
        }
      Files.createDirectories(Paths.get(in))
      Files.writeString(Paths.get(in, s"d$n.ndjson"), lines.mkString("\n"))
    }
    override def start(checkpoint: String): StreamingQuery =
      Streams.affinityUpdate(
        spark.readStream.schema(schema).json(in), store, checkpoint)
    override def served(): Seq[String] =
      rows(Streams.readAffinityIndex(spark, store))
    override def commitDir(id: Long): String = s"$store/epoch=$id"
    override def manifestedDirs(): Seq[String] =
      FixtureLayout.committedEpochs(store).map(_.getPath)
  }
}

class CdcCrashPrefixSpec extends CrashPrefixContract {
  import TestSpark._

  override def userName = "s_cdc_upsert_materialize"

  override def newUser(in: String, store: String): User = new User {
    private val payload = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_totalprice", DoubleType)))
    private def upd(k: Long) = f"$k%023d.0000000001"
    private def upsert(k: Long, at: Long, price: Double) =
      s"""{"after": {"o_orderkey": $k, "o_totalprice": $price}, "key": [$k], "updated": "${upd(at)}"}"""
    override def deliver(n: Int): Unit = {
      // batch 1 upserts keys 1..3; batch 2 updates key 1, deletes key 2
      val lines =
        if (n == 1) (1L to 3L).map(k => upsert(k, k, k * 10.5))
        else Seq(upsert(1, 10, 99.5),
          s"""{"after": null, "key": [2], "updated": "${upd(11)}"}""")
      val p = Paths.get(in,
        s"sharedKey=k1/t/2024-01-01/${"0" * 30}00$n-u$n-orders-1.ndjson")
      Files.createDirectories(p.getParent)
      Files.writeString(p, lines.mkString("\n"))
    }
    override def start(checkpoint: String): StreamingQuery =
      Streams.cdcUpsertMaterialize(
        Streams.parseEnvelope(Streams.ingestLines(spark, in), payload),
        store, checkpoint)
    override def served(): Seq[String] =
      rows(Streams.readMaterialized(spark, store).get)
    override def commitDir(id: Long): String = store
    override def manifestedDirs(): Seq[String] = Seq(store)
  }
}
