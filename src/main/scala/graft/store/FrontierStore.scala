package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Iceberg-shaped snapshot store over Parquet + an atomic manifest
  * (SURVEY.md §7.6): no Iceberg runtime jar exists in this sandbox, so the
  * semantics the north_rule needs — atomic multi-table commit per round,
  * resume from the latest snapshot, per-round lineage — are provided by a
  * manifest file swapped into place with a filesystem rename. A real
  * Iceberg catalog is a drop-in binding (same commit/latest contract) when
  * the jar exists.
  *
  * Layout:
  *   root/rounds/r000N/<table>/   parquet data, written BEFORE the commit
  *   root/manifest.json           {round, tables:{name:path}, lineage}
  *   root/_tmp/                   in-flight writes; orphans are ignored by
  *                                resume (FIXTURES.md §6 kill/restart)
  *
  * Reference analog: resumable progress via find_last_saved_page
  * (/root/reference/src/handler.py:553-599) — but file-per-doc scans are
  * replaced by columnar snapshots.
  */
object FrontierStore {
  final case class Snapshot(round: Int, tables: Map[String, String])
}

final class FrontierStore(spark: SparkSession, root: String) {
  import FrontierStore.Snapshot

  private val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
  private def manifestDir = new Path(root, "manifests")
  private def manifestPath(round: Int) = new Path(manifestDir, f"manifest-r$round%05d.json")
  private def roundDir(round: Int) = new Path(root, f"rounds/r$round%05d")

  /** Deterministic data path for a table of a round (known pre-commit, so
    * callers can record cross-round path lists like seen-set deltas).
    */
  def tablePath(round: Int, name: String): String =
    new Path(roundDir(round), name).toString

  /** Write all tables for `round`, then atomically publish the manifest.
    * Manifests are VERSIONED (manifest-r000N.json, one per round, never
    * deleted): publishing is a tmp-write + rename of a brand-new file, so a
    * crash at any instant leaves every previously published manifest intact
    * and `latest()` (max round) still resumes correctly — no
    * delete-then-rename window. Re-committing the same round after a crash
    * overwrites only that round's own manifest.
    * `aliases` are extra manifest entries whose values are path strings
    * (possibly ';'-joined lists) — e.g. the cumulative seen-delta parts.
    */
  def commit(round: Int, tables: Map[String, DataFrame],
      aliases: Map[String, String] = Map.empty): Snapshot = {
    val dir = roundDir(round)
    // table writes run as one concurrent wave (they are independent —
    // mostly cache reads of the round's fused pages pass), so a snapshot
    // pays ~one job latency instead of |tables|; the wave settles every
    // write before it returns or rethrows, so the manifest is only
    // published after every write has finished (atomicity) and a re-commit
    // after a failure never races a still-running Overwrite
    val paths = graft.Waves.seq("store-commit")(tables.toSeq.map {
      case (name, df) => () =>
        val p = new Path(dir, name).toString
        df.write.mode(SaveMode.Overwrite).parquet(p)
        name -> p
    }).toMap ++ aliases
    val tmp = new Path(root, s"_tmp/manifest-$round.json")
    fs.mkdirs(tmp.getParent)
    fs.mkdirs(manifestDir)
    val json = renderManifest(Snapshot(round, paths))
    val out = fs.create(tmp, true)
    out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    val target = manifestPath(round)
    // only this round's manifest may be replaced (idempotent re-commit)
    if (fs.exists(target)) fs.delete(target, false)
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(s"commit rename failed for round $round")
    Snapshot(round, paths)
  }

  /** Latest committed snapshot = the max-round manifest, ignoring any
    * orphan _tmp/rounds data and any half-written tmp manifests. Falls back
    * to the round-1-era single-manifest layout (root/manifest.json) when no
    * versioned manifest exists — a store committed by the old layout must
    * resume from its real round, not silently restart from round 0 and
    * overwrite prior data.
    */
  def latest(): Option[Snapshot] = {
    val rounds =
      if (!fs.exists(manifestDir)) Seq.empty
      else {
        val ManifestName = """manifest-r(\d+)\.json""".r
        fs.listStatus(manifestDir).toSeq.flatMap { st =>
          st.getPath.getName match {
            case ManifestName(r) => Some(r.toInt)
            case _ => None
          }
        }
      }
    val path =
      if (rounds.nonEmpty) manifestPath(rounds.max)
      else {
        val legacy = new Path(root, "manifest.json")
        if (!fs.exists(legacy)) return None
        legacy
      }
    Some(parseManifest(readFully(path)))
  }

  private def readFully(p: Path): String = {
    val in = fs.open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n > 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      new String(bytes.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  def read(snapshot: Snapshot, table: String): DataFrame =
    spark.read.parquet(snapshot.tables(table))

  /** Best-effort GC of data dirs the LATEST manifest no longer references
    * (e.g. seen-delta parts folded into a compacted table). Resume always
    * reads the newest manifest, so deleting these is safe; a crash
    * mid-delete just leaves ignorable orphans. Without it, compaction
    * bounds the manifest part LIST but folded dirs accumulate on disk
    * forever (a 10^4-round crawl leaks 10^4 dirs).
    */
  def gc(paths: Seq[String]): Unit =
    paths.foreach { p =>
      try fs.delete(new Path(p), true)
      catch { case scala.util.control.NonFatal(_) => () }
    }

  /** Resume-time sweep for the seen-part compaction: a crash between a
    * compacting commit's manifest publish and its [[gc]] call leaves the
    * folded dirs orphaned FOREVER (no future gc names them — the new
    * manifest no longer references them). Reclaims every
    * rounds/✱/{seen_delta,seen_compacted} dir the given part list does not
    * reference. Paths are compared normalized (the filesystem lists
    * qualified URIs while manifests store plain paths).
    */
  def gcUnreferencedSeenParts(referenced: Set[String]): Unit = {
    val roundsDir = new Path(root, "rounds")
    if (!fs.exists(roundsDir)) return
    def norm(p: Path): String = fs.makeQualified(p).toUri.getPath
    val ref = referenced.map(s => norm(new Path(s)))
    fs.listStatus(roundsDir).foreach { rd =>
      Seq("seen_delta", "seen_compacted").foreach { t =>
        val p = new Path(rd.getPath, t)
        try {
          if (fs.exists(p) && !ref.contains(norm(p))) fs.delete(p, true)
        } catch { case scala.util.control.NonFatal(_) => () }
      }
    }
  }

  /** J7 keyed upsert against the latest snapshot: the new version of
    * `table` = latest version with `updates` merged by `key` (replaced
    * where matched, appended where new). Include the result in the next
    * commit() — the snapshot mechanics stay append-only + atomic, matching
    * an Iceberg MERGE-produced snapshot. Reference analog: the id-field
    * re-index of fix_id_mapping.py:85-207.
    */
  def mergedWithLatest(table: String, updates: DataFrame, key: String): DataFrame =
    latest() match {
      case Some(snap) if snap.tables.contains(table) =>
        graft.ops.Merge.upsertByKey(read(snap, table), updates, key)
      case _ => updates
    }

  // minimal flat JSON (name→path map + round) — no external JSON dep needed
  private def renderManifest(s: Snapshot): String = {
    val entries = s.tables.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}": "${esc(v)}"""" }.mkString(", ")
    s"""{"round": ${s.round}, "tables": {$entries}}"""
  }

  private def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")

  private val RoundRe = """"round"\s*:\s*(\d+)""".r
  private val EntryRe = """"((?:[^"\\]|\\.)*)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r

  private def parseManifest(json: String): Snapshot = {
    val round = RoundRe.findFirstMatchIn(json).map(_.group(1).toInt)
      .getOrElse(throw new IllegalStateException(s"bad manifest: $json"))
    val tablesPart = json.substring(json.indexOf("\"tables\""))
    val tables = EntryRe.findAllMatchIn(tablesPart).collect {
      case m if m.group(1) != "tables" => unesc(m.group(1)) -> unesc(m.group(2))
    }.toMap
    Snapshot(round, tables)
  }

  private def unesc(s: String): String = s.replace("\\\"", "\"").replace("\\\\", "\\")
}
