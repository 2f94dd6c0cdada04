package graft.queries

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.security.MessageDigest

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Shared machinery for queries that materialize a PHYSICAL copy of
  * fixture data (partitioned layout, bucketed tables, persisted dedup
  * index). Two hazards when that copy lives in the shared java.io.tmpdir
  * (round-6 ADVICE, medium):
  *
  *   - staleness: a tag derived from the fixture PATH alone keeps serving
  *     the old copy after the fixture is regenerated in place. Tags here
  *     digest the source parquet files' (name, size, mtime) — a
  *     regenerated fixture changes the tag, which simply addresses a
  *     fresh directory (content-addressed cache: no invalidation
  *     protocol to get wrong, stale copies are just unreferenced);
  *   - write races: two JVMs on the same fixture could overwrite each
  *     other mid-read under mode("overwrite"). Writers here stage into a
  *     process-unique dir and ATOMIC_MOVE it into place; the loser of a
  *     rename race deletes its staging dir and reads the winner's copy,
  *     which is byte-equivalent by construction (same source content,
  *     deterministic layout).
  *
  * It also holds the one commit protocol for LIVE versioned stores
  * (publishManifested: fsync, atomic MANIFEST swap, history copy,
  * vacuum). Its streaming users are s_export_manifested and
  * s_affinity_update (one manifested dir per epoch, plus the affinity
  * base) and s_cdc_upsert_materialize (one manifested latest-state
  * table); q_export_shards and compactExport are its batch users.
  *
  * At 100 TB the analogue is a catalog-managed table keyed by snapshot
  * id, written by one job and atomically committed — this object is that
  * contract scaled down to tmpdir.
  */
object FixtureLayout {

  /** Content-derived cache tag for `tables` under fixture dir `d`.
    *
    * Round-8 ADVICE hardening, two closed holes:
    *   - a named table that does not exist on disk now FAILS FAST instead
    *     of silently contributing nothing (which yielded a stable
    *     path-only tag that would keep serving whatever was cached);
    *   - besides (name, size, mtime), the digest samples the first and
    *     last 4 KiB of each leaf file, so an in-place regeneration that
    *     preserves size within the filesystem's mtime granularity still
    *     changes the tag (parquet footers carry row-group stats — any
    *     data change perturbs the tail sample).
    * Sampling keeps tagging O(files), not O(bytes): at 100 TB the
    * analogue is a catalog snapshot id, not a full-content hash. */
  def contentTag(d: String, tables: Seq[String]): String = {
    val md = MessageDigest.getInstance("MD5")
    md.update(d.getBytes("UTF-8"))
    tables.foreach { t =>
      val f = new File(s"$d/$t.parquet")
      if (!f.exists()) throw new IllegalArgumentException(
        s"FixtureLayout.contentTag: fixture table '$t' not found at " +
          s"${f.getAbsolutePath}")
      val leaves: Seq[File] =
        if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName) else Seq(f)
      leaves.filter(_.isFile).foreach { p =>
        md.update(s"${p.getName}:${p.length}:${p.lastModified}"
          .getBytes("UTF-8"))
        md.update(edgeSample(p))
      }
    }
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** First + last 4 KiB of a file (whole file when smaller than 8 KiB). */
  private def edgeSample(p: File): Array[Byte] = {
    val raf = new java.io.RandomAccessFile(p, "r")
    try {
      val n = raf.length()
      val head = new Array[Byte](math.min(4096L, n).toInt)
      raf.readFully(head)
      if (n <= 8192L) head
      else {
        val tail = new Array[Byte](4096)
        raf.seek(n - 4096L)
        raf.readFully(tail)
        head ++ tail
      }
    } finally raf.close()
  }

  private[graft] def deleteRec(f: File): Unit = {
    if (f.isDirectory) { val cs = f.listFiles(); if (cs != null) cs.foreach(deleteRec) }
    f.delete()
    ()
  }

  /** Publish-once directory: if `dest` exists it is complete (publication
    * is atomic, so a visible dest is never half-written) and is reused;
    * otherwise `write` runs against a process-unique staging path that is
    * atomically renamed into place. Returns `dest`. */
  def ensureDir(dest: String)(write: String => Unit): String = {
    val destDir = new File(dest)
    if (!destDir.isDirectory) {
      destDir.getParentFile.mkdirs()
      val staging = new File(
        dest + ".staging." + java.util.UUID.randomUUID().toString.take(8))
      write(staging.getAbsolutePath)
      try Files.move(staging.toPath, destDir.toPath,
        StandardCopyOption.ATOMIC_MOVE)
      catch {
        case e: java.nio.file.FileSystemException =>
          // Lost the publish race (dest appeared between the check and
          // the rename): drop our staging copy and read the winner's.
          deleteRec(staging)
          if (!destDir.isDirectory) throw e
      }
    }
    dest
  }

  // ── Exactly-once multi-file export (manifest commit) ────────────────
  //
  // ensureDir makes a whole DIRECTORY appear atomically, which is enough
  // for a content-addressed cache but models nothing about a writer that
  // dies between shard files of a LIVE export target. The manifest
  // protocol closes that (round-7 advice #7): write every shard under a
  // fresh version dir, fsync the data files, then atomically swing a
  // single MANIFEST pointer-file that enumerates (path, size). Readers
  // resolve files through the manifest ONLY, so a mid-export crash leaves
  // either no manifest (export invisible) or the previous manifest (old
  // consistent view) — never a torn mix of old and new shards. This is
  // the reference's 201-only-after-durable contract (cdc-pubsub
  // publisher.go:167-175 acks only after PubSub confirms the write)
  // extended to multi-file output. At 100 TB the analogue is an Iceberg/
  // Delta snapshot commit: data files first, one atomic metadata swap
  // last, readers pinned to a snapshot.

  private def listRec(f: File): Seq[File] =
    if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(listRec)
    else Seq(f)

  private def fsync(f: File): Unit = {
    val ch = java.nio.channels.FileChannel.open(f.toPath,
      java.nio.file.StandardOpenOption.READ)
    try ch.force(true) finally ch.close()
  }

  /** Publish one export version under `dest` and commit it by atomically
    * replacing `dest/MANIFEST`. Crash-safe at every prefix: the version
    * dir is invisible to readers until the manifest swap, which is a
    * single POSIX rename. Returns the committed VERSION ID — under the
    * racing-committer model `dest`'s latest version may already belong
    * to someone else by the time this returns, so a caller that needs
    * "the version I just committed" (compactExport) must resolve it by
    * this vid, never by `listVersions(dest).last`. */
  def publishManifested(dest: String)(write: String => Unit): String = {
    val destDir = new File(dest)
    destDir.mkdirs()
    val vid = "v-" + java.util.UUID.randomUUID().toString.take(8)
    val vdir = new File(destDir, vid)
    write(vdir.getAbsolutePath) // a crash here leaves MANIFEST untouched
    val files = listRec(vdir).filter(_.isFile)
    files.foreach(fsync) // durable BEFORE the commit point, like the 201
    val root = vdir.toPath
    val body = files.map { f =>
      s"$vid/${root.relativize(f.toPath)}\t${f.length}"
    }.mkString("", "\n", "\n")
    val tmp = new File(destDir, s"MANIFEST.tmp.$vid")
    Files.write(tmp.toPath, body.getBytes("UTF-8"))
    fsync(tmp)
    Files.move(tmp.toPath, new File(destDir, "MANIFEST").toPath,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    retainManifest(destDir, vid, body)
    vid
  }

  // ── Version history (round 10): time-travel over committed exports ──
  // Every committed manifest is ALSO retained immutably under
  // `dest/manifests/<seq>-<vid>`, so a reader can pin any historical
  // snapshot (readExportVersion) the way Delta/Iceberg readers pin a
  // snapshot id — the reader-side complement of the exactly-once
  // publish. The retained file is a copy of the committed manifest, so
  // its integrity rules are identical; `vacuumExport` keeps the history
  // FILES but deletes superseded version DIRS, after which a time-travel
  // read of an expired version fails loudly naming the vacuum (Delta's
  // own post-vacuum contract), never silently serves partial data.

  /** Retain `body` as the immutable history entry for `vid`. Sequence
    * numbers are allocated by create-exclusive rename retry — two racing
    * committers serialize on the filesystem, not on shared state. */
  private def retainManifest(destDir: File, vid: String,
      body: String): Unit = {
    val hist = new File(destDir, "manifests"); hist.mkdirs()
    val tmp = new File(hist, s".tmp.$vid")
    Files.write(tmp.toPath, body.getBytes("UTF-8"))
    fsync(tmp)
    var seq = 1 + Option(hist.listFiles()).toSeq.flatten
      .map(_.getName).filter(_.contains("-"))
      .flatMap(_.takeWhile(_ != '-').toIntOption).maxOption.getOrElse(0)
    var done = false
    while (!done) {
      val target = new File(hist, f"$seq%06d-$vid")
      try {
        Files.move(tmp.toPath, target.toPath,
          StandardCopyOption.ATOMIC_MOVE)
        done = true
      } catch { // another committer took this seq — try the next slot
        case _: java.nio.file.FileAlreadyExistsException => seq += 1
      }
    }
  }

  /** Committed versions of the export at `dest`, oldest first:
    * (seq, version-id). */
  def listVersions(dest: String): Seq[(Int, String)] =
    Option(new File(dest, "manifests").listFiles()).toSeq.flatten
      .map(_.getName).filter(_.contains("-"))
      .flatMap { n =>
        n.takeWhile(_ != '-').toIntOption.map(_ -> n.dropWhile(_ != '-').tail)
      }.sortBy(_._1)

  /** Time-travel file resolution: the data files of historical version
    * `seq`, with the same integrity contract as `manifestedFiles`. A
    * version whose data dir was expired by `vacuumExport` fails loudly
    * naming the cause. */
  def manifestedFilesAt(dest: String, seq: Int): (String, Seq[String]) = {
    val vid = listVersions(dest).find(_._1 == seq).getOrElse(
      throw new IllegalStateException(
        s"no committed version $seq at $dest — known: " +
          listVersions(dest).map(_._1).mkString(",")))._2
    if (!new File(dest, vid).isDirectory) throw new IllegalStateException(
      s"version $seq ($vid) at $dest was expired by vacuumExport — " +
        "time travel past the vacuum horizon is impossible")
    readManifest(dest, new File(new File(dest, "manifests"), f"$seq%06d-$vid"))
  }

  /** Batch read of a pinned historical export version. */
  def readExportVersion(s: SparkSession, dest: String, seq: Int): DataFrame = {
    val files = manifestedFilesAt(dest, seq)._2.filter(_.endsWith(".parquet"))
    require(files.nonEmpty, s"version $seq at $dest holds no parquet files")
    s.read.parquet(files: _*)
  }

  /** Compaction — the Delta-OPTIMIZE / Iceberg-rewrite maintenance op,
    * and the production answer to the small-files problem a long-lived
    * export accumulates: read the CURRENT committed version's data
    * files, rewrite the same rows as `targetFiles` larger parquet
    * files, publish the rewrite as a NEW committed version through the
    * same fsync + atomic-MANIFEST path as any write. Readers never see
    * a half-compacted state — until the swap they resolve the old
    * version, after it the new one — and time travel still reaches the
    * pre-compaction snapshot until `vacuumExport` reclaims it. Data
    * content is untouched (repartition is row-preserving); only the
    * physical layout changes. Returns the new version's sequence
    * number. At 100 TB this runs per-partition on a schedule, exactly
    * like OPTIMIZE. */
  def compactExport(s: SparkSession, dest: String, targetFiles: Int): Int = {
    require(targetFiles > 0, "targetFiles must be positive")
    val files = manifestedFiles(dest)._2.filter(_.endsWith(".parquet"))
    require(files.nonEmpty, s"no parquet data to compact at $dest")
    val df = s.read.parquet(files: _*)
    val vid = publishManifested(dest) { staging =>
      df.repartition(targetFiles).write.parquet(staging)
    }
    // Resolve OUR commit's sequence by vid: under the racing-committer
    // model `listVersions(dest).last` may already be a concurrent
    // writer's version (round-10 advice), and the compaction must report
    // the snapshot it actually produced.
    listVersions(dest).collectFirst { case (seq, v) if v == vid => seq }
      .getOrElse(throw new IllegalStateException(
        s"compaction commit $vid vanished from $dest/manifests"))
  }

  /** Idempotent wrapper: publish only if no manifest is committed yet.
    * Two racing writers both produce byte-equivalent versions (same
    * source content, deterministic layout); whichever MANIFEST swap lands
    * last wins and both are valid. */
  def ensureManifested(dest: String)(write: String => Unit): String = {
    if (!new File(dest, "MANIFEST").isFile) publishManifested(dest)(write)
    dest
  }

  /** The read side of the contract: resolve the committed file set from
    * the manifest alone — never by listing the directory, which may hold
    * uncommitted versions — and fail loudly if a manifested file is
    * missing or truncated (a reader must not silently read a corrupt
    * export). Returns (versionRoot, absolute data-file paths). */
  def manifestedFiles(dest: String): (String, Seq[String]) = {
    val mf = new File(dest, "MANIFEST")
    if (!mf.isFile) throw new IllegalStateException(
      s"no committed manifest at $dest — export was never published " +
        "(or crashed before its commit point)")
    readManifest(dest, mf)
  }

  /** `manifestedFiles`, or None while nothing is committed at `dest`. */
  def committedFiles(dest: String): Option[(String, Seq[String])] =
    if (new File(dest, "MANIFEST").isFile) Some(manifestedFiles(dest))
    else None

  /** Parse one committed manifest (`rel\tlen` lines) of the store at
    * `dest` and check every entry is present at its committed length.
    * Returns (versionRoot, absolute data-file paths). */
  private def readManifest(dest: String, mf: File): (String, Seq[String]) = {
    val entries = new String(Files.readAllBytes(mf.toPath), "UTF-8")
      .linesIterator.filter(_.nonEmpty).map { l =>
        val Array(rel, len) = l.split("\t"); (rel, len.toLong)
      }.toSeq
    entries.foreach { case (rel, len) =>
      val f = new File(dest, rel)
      if (!f.isFile || f.length != len) throw new IllegalStateException(
        s"manifested file $rel (${len}B) missing or truncated at $dest — " +
          "export integrity violated")
    }
    val vid = entries.head._1.takeWhile(_ != '/')
    (s"$dest/$vid", entries.map { case (rel, _) => s"$dest/$rel" })
  }

  /** The committed `epoch=*` dirs of a per-epoch manifested store
    * (s_export_manifested, s_affinity_update), sorted by name: a dir
    * without a MANIFEST is a torn epoch and is not listed. */
  def committedEpochs(dest: String): Seq[File] =
    Option(new File(dest).listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("epoch="))
      .filter(d => new File(d, "MANIFEST").isFile)
      .sortBy(_.getName)

  /** Garbage-collect unreferenced export versions under `dest`: delete
    * every `v-*` dir the committed MANIFEST does not name — crashed
    * writers' leftovers and superseded versions — and every stray
    * `MANIFEST.tmp.*` file a writer left before its swap. Safe by the
    * protocol's own rule: the manifest is the only source of
    * visibility, so an unreferenced version is unreadable by a correct
    * reader. Integrity of the CURRENT version is validated first
    * (manifestedFiles), so a corrupt state aborts loudly before
    * anything is deleted. This is
    * Iceberg/Delta expire-snapshots scaled down; like there, run it
    * outside any window where a long-lived reader may still hold paths
    * resolved from a superseded manifest. Returns the deleted version
    * ids. */
  def vacuumExport(dest: String): Seq[String] = {
    val (vroot, _) = manifestedFiles(dest)
    val current = new File(vroot).getName
    val stale = Option(new File(dest).listFiles()).toSeq.flatten
      .filter(d => d.getName.startsWith("MANIFEST.tmp") ||
        (d.isDirectory && d.getName.startsWith("v-") && d.getName != current))
    stale.foreach(deleteRec)
    stale.map(_.getName)
  }

  /** Bucketed-table publish: materialize `build` bucketed+sorted on
    * `key` at `path` and register it as `tbl` in this session's catalog.
    * Idempotent and race-safe at every layer: catalog hit → reuse;
    * published dir → register only; otherwise write through a throwaway
    * writer table (bucketed writes require saveAsTable), drop the writer
    * (external — files stay), publish the files atomically, then
    * register. A concurrent CREATE of the same name falls back to the
    * existing entry. */
  def ensureBucketedTable(s: SparkSession, tbl: String, path: String,
      key: String, buckets: Int)(build: => DataFrame): DataFrame = {
    if (!s.catalog.tableExists(tbl)) {
      val df = build
      ensureDir(path) { staging =>
        val writer = tbl + "_w" + java.util.UUID.randomUUID().toString.take(8)
        df.repartition(buckets, col(key))
          .write.bucketBy(buckets, key).sortBy(key)
          .option("path", staging)
          .mode("overwrite").saveAsTable(writer)
        s.sql(s"DROP TABLE $writer")
      }
      try s.sql(s"CREATE TABLE $tbl (${df.schema.toDDL}) USING PARQUET " +
        s"CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS " +
        s"LOCATION '$path'")
      catch {
        case e: AnalysisException =>
          if (!s.catalog.tableExists(tbl)) throw e
      }
    }
    s.table(tbl)
  }
}
