package graft.warehouse

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** One committed snapshot: the unit of ACID append.
  *
  * Mirrors the subset of Iceberg snapshot semantics the reference
  * actually uses (`icerunner.py:209-259`): monotonically increasing ids,
  * append-only commits, incremental reads as "files added in (s, head]".
  *
  * @param snapshotId  monotonically increasing, starts at 1
  * @param timestampMs commit wall-clock time
  * @param operation   "create" | "append"
  * @param addedFiles  parquet files (relative to the table dir) this
  *                    commit added — never mutated afterwards
  * @param schemaJson  Spark StructType JSON at commit time
  */
final case class Snapshot(
    snapshotId: Long,
    timestampMs: Long,
    operation: String,
    addedFiles: Seq[String],
    schemaJson: String,
    stats: Map[String, FileStat] = Map.empty,
    /** Files this snapshot REMOVES from the visible set (copy-on-write
      * upsert/delete rewrites). Removal affects view resolution only —
      * the bytes stay on disk for time travel until the snapshot that
      * ADDED them expires. */
    removedFiles: Seq[String] = Nil,
    /** EQUALITY-DELETE files (merge-on-read): parquet files of key
      * tuples whose matching rows are invisible in every data file
      * committed BEFORE this snapshot (Iceberg v2 sequence-number
      * semantics — a later re-insert of the same key is NOT affected).
      * Only `eqdelete` snapshots carry these; a compact/replace
      * materializes and clears them. */
    deleteFiles: Seq[String] = Nil,
    /** Free-form commit metadata (the Iceberg snapshot-summary shape).
      * Carries the streaming-sink transaction markers
      * (`graft.txn.appId`/`graft.txn.batchId` — see
      * `EventStreams.ingestToWarehouse`): a crash-replayed micro-batch
      * finds its batchId already committed and becomes a no-op, the
      * Delta-style exactly-once sink protocol. */
    properties: Map[String, String] = Map.empty)

/** What one [[SnapshotLog.publish]] attempt commits, derived against
  * the head it was handed; the log assigns id, timestamp and parent.
  *
  * @param commitDir a directory only this attempt staged, deleted when
  *                  the attempt loses its race
  * @param atLeastId floors the allocated id: a CLONE's create pins itself
  *                  at the SOURCE's head id so the tombstone sids it
  *                  carries stay below every later commit (from id 1, new
  *                  appends would land BELOW a carried delete's sid and be
  *                  wrongly scoped by it); incremental reads treat the
  *                  id gap before the floor as expired history. */
final case class Staged(operation: String, files: Seq[String],
    schemaJson: String, stats: Map[String, FileStat] = Map.empty,
    removed: Seq[String] = Nil, deleteFiles: Seq[String] = Nil,
    properties: Map[String, String] = Map.empty,
    commitDir: Option[Path] = None, atLeastId: Option[Long] = None)

/** Per-data-file column statistics recorded in the manifest at commit
  * time — the Iceberg-style metadata that lets a reader prune files
  * BEFORE planning a scan (numeric/timestamp ranges in `numMin/numMax`,
  * lexicographic ranges in `strMin/strMax`). A 100 TB table clustered on
  * its query keys reads only the files whose recorded range intersects
  * the predicate. */
final case class FileStat(
    numMin: Map[String, Double], numMax: Map[String, Double],
    strMin: Map[String, String], strMax: Map[String, String],
    /** Exact row count of the file, recorded at commit time (parquet
      * footer metadata / write-side aggregate). −1 in manifests written
      * before row counts existed — consumers must treat that as
      * UNKNOWN, not zero. Powers metadata-only COUNT(*)
      * ([[GraftTable.metaCount]]): the Iceberg trick of answering
      * whole-table aggregates from manifests without touching one data
      * byte. */
    rows: Long = -1L,
    /** File size in BYTES, recorded at commit time (one driver-side
      * stat call while the file demonstrably exists) — lets the
      * `$partitions`/`$files` metadata surfaces report byte counts
      * without touching the filesystem at read time. −1 in manifests
      * written before sizes were recorded (UNKNOWN, not zero). */
    bytes: Long = -1L,
    /** Per-column BLOOM FILTERS over the file's xxhash64(column) values
      * (Spark's own `bloom_filter_agg` sketch, base64 in the manifest)
      * — the point-lookup skipping index for UNCLUSTERED high-cardinality
      * columns, where min/max ranges span everything and prune nothing
      * (Iceberg stores the same idea in puffin sidecars; inline keeps
      * our commit atomic — a production port would sidecar them).
      * Recorded only when the writer asked ([[GraftTable.append]]
      * `bloomCols`); absent ⇒ probes conservatively match. */
    blooms: Map[String, Array[Byte]] = Map.empty) {

  /** Can this file contain a row whose xxhash64(column) is `hash`?
    * True when no bloom was recorded for the column (unknown ⇒ match);
    * a recorded bloom answers with its configured false-positive rate
    * and NO false negatives — pruning stays sound. */
  def bloomMayContain(column: String, hash: Long): Boolean =
    blooms.get(column) match {
      case None => true
      case Some(bytes) =>
        FileStat.parseBloom(bytes).mightContainLong(hash)
    }

  /** Can this file contain rows with `column` in [lower, upper]?
    * Unknown columns conservatively match. Query bounds are converted
    * directionally (lower rounds down, upper rounds up), so a long above
    * 2^53 can never tighten a bound and falsely prune a file.
    *
    * Bound TYPE contract (pruning is only sound when bound and stat
    * share a unit): numeric columns take any `Number`; timestamp /
    * timestamp_ntz columns take `java.sql.Timestamp`,
    * `java.time.LocalDateTime` (compared at UTC), or
    * `java.time.Instant` — all normalized to the epoch-MILLIS unit the
    * stats writer records. Passing a raw epoch Long for a timestamp
    * column would compare micros (or seconds) against millis stats and
    * falsely prune, so there is deliberately NO implicit numeric
    * coercion for temporal values and NO string-to-number fallback:
    * an unsupported bound type throws instead of guessing. */
  def mayContain(column: String,
      lower: Option[Any], upper: Option[Any]): Boolean = {
    def num(v: Any, up: Boolean): Double = v match {
      case n: Number => FileStat.dirDouble(n, up)
      case t: java.sql.Timestamp => t.getTime.toDouble
      // NTZ bound (LocalDateTime) / java8-API bound (Instant): same
      // epoch-millis-at-UTC unit the stats writer records for them
      case t: java.time.LocalDateTime =>
        t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli.toDouble
      case t: java.time.Instant => t.toEpochMilli.toDouble
      case other => throw new IllegalArgumentException(
        s"unsupported pruning bound for numeric-stat column '$column': " +
          s"${other.getClass.getName} — pass a Number, or a Timestamp/" +
          "LocalDateTime/Instant for temporal columns (unit-ambiguous " +
          "values are refused rather than risking a false prune)")
    }
    (numMin.get(column), numMax.get(column)) match {
      case (Some(mn), Some(mx)) =>
        lower.forall(l => mx >= num(l, up = false)) &&
          upper.forall(u => mn <= num(u, up = true))
      case _ =>
        (strMin.get(column), strMax.get(column)) match {
          case (Some(mn), Some(mx)) =>
            // Spark computed min/max in UTF8String (UTF-8 byte) order;
            // Java String compareTo is UTF-16 code-unit order and the two
            // disagree above the BMP — compare in UTF-8 bytes to match.
            lower.forall(l => FileStat.cmpUtf8(mx, l.toString) >= 0) &&
              upper.forall(u => FileStat.cmpUtf8(mn, u.toString) <= 0)
          case _ => true
        }
    }
  }
}

object FileStat {
  /** Parse-once cache for manifest blooms: the same byte array is
    * probed for every (file, value) pair of a readWhereIn call, and
    * snapshots (with their stat maps) are re-read per call — key on
    * identity-ish (length, first longs) is unsafe, so key on the array
    * reference per JVM via a weak map. */
  private val bloomCache =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[Array[Byte], org.apache.spark.util.sketch.BloomFilter]())

  private[warehouse] def parseBloom(bytes: Array[Byte])
      : org.apache.spark.util.sketch.BloomFilter = {
    val got = bloomCache.get(bytes)
    if (got != null) got
    else {
      val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bytes))
      bloomCache.put(bytes, bf)
      bf
    }
  }

  /** Directionally-safe Double conversion for stats and bounds: when the
    * exact value is not representable (longs/decimals above 2^53), round
    * toward the safe side (`up = false` → never above the true value,
    * `up = true` → never below), so recorded ranges only ever widen and
    * pruning stays conservative. */
  private[graft] def dirDouble(n: Number, up: Boolean): Double = {
    val d = n.doubleValue()
    if (d.isInfinite || d.isNaN) return d
    val cmp = n match { // sign of (d - exact n), 0 when representable
      case l: java.lang.Long => BigDecimal(d).compare(BigDecimal(l.longValue))
      case b: java.math.BigDecimal => BigDecimal(d).compare(BigDecimal(b))
      case b: scala.math.BigDecimal => BigDecimal(d).compare(b)
      case b: scala.math.BigInt => BigDecimal(d).compare(BigDecimal(b))
      case _ => 0 // int/short/byte/float/double are exact as doubles
    }
    if (cmp == 0) d
    else if (up) { if (cmp > 0) d else Math.nextUp(d) }
    else { if (cmp < 0) d else Math.nextDown(d) }
  }

  /** Unsigned lexicographic comparison of the UTF-8 encodings. */
  private[graft] def cmpUtf8(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }
}

/** Thrown when an incremental read reaches past the expiry horizon: the
  * delta is unknowable and the caller must full-re-sync. A TYPED error
  * (not a message) so the service can relay it as a structured code and
  * replicas can self-heal without string-matching. */
final class HistoryExpiredException(msg: String)
  extends IllegalStateException(msg)

/** One live merge-on-read tombstone's payload (see
  * [[SnapshotLog.eqDeletesOf]]). */
sealed trait Tomb
object Tomb {
  /** Absolute path of a key-tuple parquet sidecar ([[GraftTable.deleteKeysMor]]). */
  final case class Keys(absPath: String) extends Tomb
  /** SQL text of a predicate delete ([[GraftTable.deleteWhereMor]]). */
  final case class Pred(sql: String) extends Tomb
  /** POSITION delete ([[GraftTable.deletePosMor]] — the Iceberg v2
    * position-delete / deletion-vector shape): parquet sidecars of
    * (file, pos) rows plus the set of NAMED manifest-relative data
    * files. File-scoped by construction — a position addresses one
    * immutable file, so unlike [[Keys]]/[[Pred]] no era grouping is
    * needed and later appends can never be affected. */
  final case class Pos(sidecars: Seq[String], files: Set[String]) extends Tomb
}

/** Append-only snapshot log stored as one JSON manifest per commit under
  * `<tableDir>/_snapshots/v%016d.json`.
  *
  * Commit protocol (multi-writer-safe without any external service):
  * write the manifest to a temp file, then publish it via
  * `Files.createLink` to its versioned name — `link(2)` atomically
  * fails with EEXIST when the id is taken, so a concurrent committer
  * racing on the same id loses, re-derives its commit against the new
  * head, and retries with the next id (POSIX `rename(2)` would silently
  * replace the winner — see `publish`, the one commit loop). Data
  * files are written *before* the manifest; a crash between the two
  * leaves orphan files that no manifest references, which readers
  * never see (same recovery model as Iceberg's orphan-file semantics).
  *
  * Scale: manifests grow with commit count, not row count. A read
  * resolves the file list driver-side (cheap JSON scan) and hands Spark
  * an explicit file list, so planning-time pruning replaces any
  * directory listing of a 100 TB table.
  */
object SnapshotLog {
  /** Snapshot-property key holding a PREDICATE merge-on-read delete's
    * SQL text (see [[GraftTable.deleteWhereMor]]): the commit carries
    * no files at all — O(1) write latency at any table size. */
  val PredDeleteKey = "graft.delete.predicate"

  /** Marks a snapshot whose `deleteFiles` are POSITION-delete sidecars
    * — (file, pos) rows, not key tuples ([[GraftTable.deletePosMor]]). */
  val PosDeleteKey = "graft.delete.positional"
  /** Newline-joined manifest-relative paths of the data files a
    * position delete NAMES — lets readers split named/unnamed files
    * from the manifest alone, no sidecar scan at planning time. */
  val PosFilesKey = "graft.delete.posfiles"
  /** `<prefix><relPath>` → the number of positions the commit deleted
    * from that file. Positions are file-scoped and never duplicated
    * across commits (the probe reads delete-applied), so a
    * metadata-only COUNT stays EXACT under pure position tombstones:
    * Σ visible file rows − Σ recorded counts of visible named files. */
  val PosCountPrefix = "graft.delete.poscount."
  /** Marks a POSITION-TOMBSTONE REWRITE snapshot
    * ([[GraftTable.compactDeletes]] — Iceberg's
    * rewrite_position_delete_files): its merged sidecar SUPERSEDES
    * every earlier live position tombstone ([[SnapshotLog.eqDeletesOf]]
    * drops them at this snapshot), it deletes no NEW rows (dangling
    * entries pruned, live ones re-expressed), so incremental readers
    * flow through it like a carrying checkpoint. */
  val PosRewriteKey = "graft.delete.posrewrite"
  /** `<prefix><origSid>:<relPath>` → that commit's deleted-position
    * count for the file, RE-RECORDED by a metadata checkpoint that
    * carries the tombstone ([[GraftTable.checkpoint]]): the original
    * keys live only in the posdelete snapshot's own properties, so
    * without the carry a checkpoint + expiry would silently degrade
    * [[GraftTable.metaCount]] from exact to scan-fallback. Sid-scoped
    * because one checkpoint may carry SEVERAL position commits naming
    * the same file. */
  val PosCarryCountPrefix = "graft.delete.poscarry."

  /** `<prefix><n>` → `<origSid>:<K|P|O|F>:<payload>` — one LIVE
    * tombstone component a metadata CHECKPOINT carries across the
    * expiry horizon (K = key sidecar rel path, P = predicate SQL,
    * O = position sidecar rel path, F = position-named data file).
    * [[eqDeletesOf]] re-materializes carried tombstones with their
    * ORIGINAL snapshot ids, so era scoping (against the checkpoint's
    * per-file `graft.tombsid.*` records) survives expiring the
    * eqdelete commits themselves. */
  val CarryDelPrefix = "graft.carrydel."

  /** ROW LINEAGE (the Iceberg v3 row-id contract). `RowIdNextKey` →
    * the table's next unassigned row id; its presence on any retained
    * snapshot means lineage is ENABLED, and every id-assigning commit
    * re-states the advanced counter. `RowIdFirstPrefix<relPath>` → the
    * FIRST row id of that data file: a row's id is `first +
    * _metadata.row_index` (v3's first-row-id inheritance — ids exist
    * without any physical column). `RowIdMaterializedKey` on a commit
    * means its added files carry a PHYSICAL `_row_id` column instead
    * (how rewrites PRESERVE ids: compact/update/delete read ids and
    * re-write them as real bytes); `RowIdMatFilePrefix<relPath>` is
    * the per-file form a metadata checkpoint uses to carry that fact
    * across the expiry horizon. */
  val RowIdNextKey = "graft.rowid.next"
  val RowIdFirstPrefix = "graft.rowid.first."
  val RowIdMaterializedKey = "graft.rowid.materialized"
  val RowIdMatFilePrefix = "graft.rowid.matfile."

  /** `RowSeqFilePrefix<relPath>` → the VIRTUAL
    * `_last_updated_sequence_number` of a non-materialized data file's
    * rows (v3's sequence-number inheritance: absent a physical column,
    * every row of a file carries the sequence of the commit that added
    * it). Recorded only when the default — the first retained snapshot
    * listing the file — would be wrong: checkpoint/clone carries
    * re-stating the original adding commit past the expiry horizon.
    * Files added by a materializing rewrite carry the column
    * physically instead (rewrites write survivors' OLD seq and the
    * committing snapshot's id for rows they changed or minted). */
  val RowSeqFilePrefix = "graft.rowseq.file."

  /** The TRUE parent snapshot id, recorded by [[SnapshotLog.publish]] at
    * commit time (the head the winning attempt was handed). `$history`
    * reads this instead of inferring the parent from log position —
    * after expire_snapshots the preceding RETAINED snapshot is not the
    * commit's actual parent (Iceberg records parent-snapshot-id in the
    * snapshot itself for the same reason). Absent on pre-r17 manifests
    * and on a table's first commit. */
  val ParentKey = "graft.parent"

  /** [[SnapshotLog.publish]]'s give-up bounds: lost races for an attempt
    * that redoes its Spark work, and for one that only re-links. */
  val RestageLimit = 20
  val RelinkLimit = 10000

  /** The table's next unassigned row id at the cut, None ⇔ lineage
    * never enabled. Latest wins: every assigning commit re-states it. */
  def rowIdNextOf(snaps: Seq[Snapshot]): Option[Long] =
    snaps.reverseIterator
      .flatMap(_.properties.get(RowIdNextKey)).nextOption().map(_.toLong)

  /** Every recorded first-row-id, keyed by data-file rel path. Rel
    * paths are never reused (uuid commit dirs), so duplicates —
    * checkpoint carries re-stating the adding commit's value — agree
    * by construction. */
  def rowIdFirsts(snaps: Seq[Snapshot]): Map[String, Long] =
    snaps.iterator.flatMap(_.properties.iterator).collect {
      case (k, v) if k.startsWith(RowIdFirstPrefix) =>
        k.substring(RowIdFirstPrefix.length) -> v.toLong
    }.toMap

  /** VIRTUAL `_last_updated_sequence_number` per data-file rel path:
    * a carried [[RowSeqFilePrefix]] record wins (processed before the
    * same snapshot's own file list, so a checkpoint's re-listing
    * doesn't bump carried rows to the checkpoint's id); otherwise the
    * FIRST retained snapshot listing the file (so a rollback's
    * re-added files keep their original sequence). Covers every
    * visible file by construction — each is listed by some retained
    * snapshot. Files with PHYSICAL seq columns ([[rowIdMatRels]]) are
    * read, not looked up. */
  def rowSeqOf(snaps: Seq[Snapshot]): Map[String, Long] = {
    val m = scala.collection.mutable.Map.empty[String, Long]
    snaps.foreach { s =>
      s.properties.foreach { case (k, v) =>
        if (k.startsWith(RowSeqFilePrefix)) {
          val rel = k.substring(RowSeqFilePrefix.length)
          if (!m.contains(rel)) m(rel) = v.toLong
        }
      }
      s.addedFiles.foreach { f =>
        if (!m.contains(f)) m(f) = s.snapshotId
      }
    }
    m.toMap
  }

  /** Rel paths of files whose rows carry a PHYSICAL `_row_id` column:
    * files added by a materializing rewrite, plus per-file flags a
    * checkpoint carried past the rewrite commit's expiry. */
  def rowIdMatRels(snaps: Seq[Snapshot]): Set[String] =
    snaps.iterator.flatMap { s =>
      (if (s.properties.contains(RowIdMaterializedKey)) s.addedFiles
       else Seq.empty[String]) ++
        s.properties.keysIterator.collect {
          case k if k.startsWith(RowIdMatFilePrefix) =>
            k.substring(RowIdMatFilePrefix.length)
        }
    }.toSet

  /** Per-JVM parse cache for immutable MAIN-log manifests (see
    * [[SnapshotLog.snapshots]] for the immutability argument). Sized
    * for tens of live tables with thousands of commits each; LRU keeps
    * a long-lived session bounded. */
  private val parseCache =
    new graft.operators.BoundedLru[String, Snapshot](65536)

  /** Publish `content` at `target` only if no file has that name: write
    * a temp file beside it, then `link(2)` it into place. False ⇔ EEXIST,
    * a concurrent publisher took the name. */
  private[warehouse] def linkNew(target: Path, content: String): Boolean = {
    val tmp = writeTemp(target.getParent, ".link-", content)
    try {
      Files.createLink(target, tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally Files.deleteIfExists(tmp)
  }

  /** Write `content` to a new file `<prefix><random>.tmp` in `dir`, to be
    * linked or moved into place. The file is created as Hadoop creates
    * data files, mode 0666 under the process umask; `Files.createTempFile`
    * would make it `rw-------`, so a user who can read a table's parquet
    * could not read its log or state files. A write that fails removes
    * the file it created. */
  private[graft] def writeTemp(dir: Path, prefix: String, content: String): Path = {
    val tmp = dir.resolve(s"$prefix${java.util.UUID.randomUUID()}.tmp")
    try Files.writeString(tmp, content, java.nio.file.StandardOpenOption.CREATE_NEW)
    catch { case e: Throwable => Files.deleteIfExists(tmp); throw e }
    tmp
  }

  /** Delete a directory tree, children first; no-op when absent. */
  private[warehouse] def deleteTree(root: Path): Unit =
    if (Files.isDirectory(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => Files.deleteIfExists(p))
      finally walk.close()
    }

  /** Purge cached manifest parses under a table directory. The
    * immutability argument in [[SnapshotLog.snapshots]] covers
    * commit/rollback/expiry but NOT drop + recreate at the same path:
    * the recreated table restarts its id sequence and reuses
    * `v0000000000000001.json` with new content, so a path-only cache
    * would keep serving the dropped table's snapshots. Every drop MUST
    * call this (see `Connector.dropTable`). */
  def invalidateUnder(tableDir: Path): Unit = {
    val prefix = tableDir.toAbsolutePath.toString + java.io.File.separator
    parseCache.removeKeys(_.startsWith(prefix))
  }
}

final class SnapshotLog(tableDir: Path, branch: Option[String] = None) {
  private val snapDir: Path = branch match {
    // a branch keeps its own manifest sequence under the main log's
    // dir; main-log listings never see it (directories don't match the
    // vNNN.json manifest pattern), so branch commits are invisible to
    // every main-table read until publish
    case Some(b) => tableDir.resolve("_snapshots").resolve(s"branch-$b")
    case None => tableDir.resolve("_snapshots")
  }

  private def manifestPath(id: Long): Path =
    snapDir.resolve(f"v$id%016d.json")

  /** All snapshots in id order.
    *
    * MAIN-log manifests parse through a per-JVM LRU: a published
    * `vN.json` is immutable (commit's `link(2)` refuses to replace,
    * rollback APPENDS a new snapshot, expiry only DELETES) and the
    * directory listing gates visibility, so a path-keyed cache can
    * never serve stale content — at 10k commits this turns every
    * read's O(#snapshots) JSON re-parse into O(new manifests), the
    * metadata-read scaling a 100 TB table actually needs. BRANCH logs
    * are excluded: drop + recreate of a branch restarts its id
    * sequence, reusing paths with new content. */
  def snapshots: Seq[Snapshot] = {
    if (!Files.isDirectory(snapDir)) return Seq.empty
    // Files.list holds an open directory fd until CLOSED — no cleaner
    // reclaims it on GC, and this runs once per table read: an
    // unclosed stream here exhausts the process fd limit over a long
    // session (found as "Too many open files" across a full suite run)
    val listing = Files.list(snapDir)
    val paths =
      try listing.iterator().asScala
        .filter(p => p.getFileName.toString.matches("v\\d{16}\\.json"))
        .toSeq.sortBy(_.getFileName.toString)
      finally listing.close()
    if (branch.nonEmpty)
      paths.map(p => SnapshotJson.read(Files.readString(p)))
    else paths.map { p =>
      val key = p.toAbsolutePath.toString
      SnapshotLog.parseCache.get(key).getOrElse {
        val s = SnapshotJson.read(Files.readString(p))
        SnapshotLog.parseCache.put(key, s)
        s
      }
    }
  }

  def head: Option[Snapshot] = snapshots.lastOption

  def currentSnapshotId: Option[Long] = head.map(_.snapshotId)

  /** Head id derived from manifest FILENAMES only — one directory
    * listing, zero manifest reads. The cheap staleness probe that lets
    * view reflection skip unchanged tables. */
  def headIdByName: Option[Long] = {
    if (!Files.isDirectory(snapDir)) return None
    val listing = Files.list(snapDir)
    try listing.iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.matches("v\\d{16}\\.json"))
      .map(n => n.substring(1, 17).toLong)
      .maxOption
    finally listing.close()
  }

  /** Data files visible at snapshot `asOf` (or head when None),
    * absolute paths. A `compact` snapshot REPLACES the file set (its
    * files carry the whole table at that point), so resolution starts
    * from the latest compact at-or-before the cut and adds later
    * appends only. */
  def dataFiles(asOf: Option[Long] = None): Seq[String] =
    dataFilesOf(snapshots, asOf)

  /** Same resolution over an ALREADY-captured snapshot list: callers
    * deriving several views of the log (diff's two cuts + schema,
    * rollback's target + head) capture `snapshots` once and pass it
    * here — one directory listing, one parse, and one ATOMIC view (no
    * torn read between the views under a concurrent commit). */
  def dataFilesOf(snaps: Seq[Snapshot], asOf: Option[Long]): Seq[String] =
    filesWithSnapOf(snaps, asOf).map(_._1)

  /** Same resolution, keeping each visible file's ADDING snapshot id —
    * the "data sequence number" merge-on-read deletes are scoped by
    * (an equality delete applies only to files committed before it). */
  def filesWithSnapOf(snaps: Seq[Snapshot],
      asOf: Option[Long]): Seq[(String, Long)] = {
    val cut = asOf.getOrElse(Long.MaxValue)
    val visible = snaps.filter(_.snapshotId <= cut)
    val baseline = visible.lastIndexWhere(_.operation == "compact")
    // fold in commit order: adds first, then removals (a rewrite may
    // remove files added by any earlier snapshot since the baseline)
    val files = new java.util.LinkedHashMap[String, Long]()
    visible.drop(math.max(baseline, 0)).foreach { s =>
      s.addedFiles.foreach(f => files.put(f, s.snapshotId))
      s.removedFiles.foreach(files.remove)
    }
    files.entrySet().iterator().asScala
      .map(e => (tableDir.resolve(e.getKey).toString, e.getValue.longValue()))
      .toSeq
  }

  /** Merge-on-read tombstones visible at a cut: `eqdelete` commits
    * after the latest MATERIALIZING rewrite (compact/replace — both
    * rebuild the row set with deletes applied) at-or-before the cut,
    * as (deleteSnapshotId, payload) pairs in commit order. A payload
    * is either the absolute path of a KEY-TUPLE sidecar
    * ([[Tomb.Keys]]) or the SQL text of a PREDICATE delete
    * ([[Tomb.Pred]] — stored in the commit's properties, zero files). */
  def eqDeletesOf(snaps: Seq[Snapshot],
      asOf: Option[Long]): Seq[(Long, Tomb)] = {
    val cut = asOf.getOrElse(Long.MaxValue)
    val visible = snaps.filter(_.snapshotId <= cut)
    val baseline = visible.lastIndexWhere(s =>
      s.operation == "compact" || s.operation == "replace")
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Tomb)]
    visible.drop(math.max(baseline, 0)).foreach { s =>
      // a position-tombstone REWRITE supersedes every earlier live
      // position tombstone (its merged sidecar re-expresses them,
      // dangling entries pruned) — key/predicate tombstones unaffected
      if (s.properties.contains(SnapshotLog.PosRewriteKey))
        out.filterInPlace(!_._2.isInstanceOf[Tomb.Pos])
      out ++= tombsOf(s)
    }
    out.toSeq
  }

  private def tombsOf(s: Snapshot): Seq[(Long, Tomb)] = {
      val carried = s.properties.toSeq.collect {
        case (k, v) if k.startsWith(SnapshotLog.CarryDelPrefix) => v }
      if (carried.nonEmpty) {
        // a carrying CHECKPOINT: re-materialize the tombstones it
        // carried, under their ORIGINAL snapshot ids (its own
        // deleteFiles are the carried sidecars — GC retention only)
        val parsed = carried.map { v =>
          val i = v.indexOf(':')
          val j = v.indexOf(':', i + 1)
          (v.substring(0, i).toLong, v.substring(i + 1, j), v.substring(j + 1))
        }
        val keys = parsed.collect { case (sid, "K", rel) =>
          sid -> (Tomb.Keys(tableDir.resolve(rel).toString): Tomb) }
        val preds = parsed.collect { case (sid, "P", sql) =>
          sid -> (Tomb.Pred(sql): Tomb) }
        val posBySid = parsed.filter(p => p._2 == "O" || p._2 == "F")
          .groupBy(_._1).toSeq.map { case (sid, es) =>
            sid -> (Tomb.Pos(
              es.collect { case (_, "O", rel) =>
                tableDir.resolve(rel).toString },
              es.collect { case (_, "F", rel) => rel }.toSet): Tomb)
          }
        (keys ++ preds ++ posBySid).sortBy(_._1)
      } else if (s.properties.contains(SnapshotLog.PosDeleteKey))
        Seq(s.snapshotId -> (Tomb.Pos(
          s.deleteFiles.map(f => tableDir.resolve(f).toString),
          s.properties.get(SnapshotLog.PosFilesKey)
            .map(_.split('\n').filter(_.nonEmpty).toSet)
            .getOrElse(Set.empty)): Tomb))
      else
        s.deleteFiles.map(f =>
          s.snapshotId -> (Tomb.Keys(tableDir.resolve(f).toString): Tomb)) ++
          s.properties.get(SnapshotLog.PredDeleteKey).map(p =>
            s.snapshotId -> (Tomb.Pred(p): Tomb))
  }

  /** Files added by snapshots in `(sinceId, head]` — the corrected
    * changes-since semantics (SURVEY.md §2A-12: the reference's version
    * cross-joins instead). `compact` snapshots are skipped: a rewrite
    * changes no logical rows (Iceberg's incremental read does the same
    * for replace snapshots); the appends' original files remain
    * addressable until [[deleteManifest]]-driven expiry removes them —
    * past that horizon the delta is UNKNOWABLE and this method throws
    * rather than silently returning a partial delta (a lagging replica
    * must full-re-sync, not diverge). */
  def changedFiles(sinceId: Long, untilId: Long = Long.MaxValue): Seq[String] =
    changedFilesWithSnap(sinceId, untilId).map(_._1)

  /** [[changedFiles]] keeping each file's ADDING snapshot id — what an
    * era-projected read needs to decode files committed before a
    * rename with their own era's schema. */
  def changedFilesWithSnap(sinceId: Long,
      untilId: Long = Long.MaxValue): Seq[(String, Long)] = {
    val snaps = snapshots
    val firstId = snaps.headOption.map(_.snapshotId).getOrElse(1L)
    if (sinceId < firstId - 1)
      throw new HistoryExpiredException(
        s"changes since $sinceId unavailable: history before snapshot " +
          s"$firstId has been expired; full re-sync required")
    val window = snaps.filter(s =>
      s.snapshotId > sinceId && s.snapshotId <= untilId)
    // A rewrite (upsert/delete) REPLACES rows; its added files mix
    // surviving old rows with new versions, so an append-only file
    // delta across it would double-count — same stance as Iceberg's
    // incremental scan on replace snapshots: refuse, forcing the
    // consumer (Mirror) onto its full-re-sync path. A `rewrite`
    // snapshot (PARTIAL binpack compaction) is the exception: like
    // `compact` it changes NO logical rows — its added files re-house
    // rows from its removed files — so the incremental read SKIPS it
    // entirely (Iceberg does the same for replace snapshots).
    window.find { s =>
      // a carrying CHECKPOINT re-lists tombstones that were already
      // live before the window — it deletes no NEW rows, so the
      // incremental read flows through it like any compact
      // ... and so does a position-tombstone REWRITE: it re-expresses
      // tombstones that were already live (dangling entries pruned),
      // deleting no new rows
      val carries = s.properties.keys.exists(
        _.startsWith(SnapshotLog.CarryDelPrefix)) ||
        s.properties.contains(SnapshotLog.PosRewriteKey)
      (s.removedFiles.nonEmpty && s.operation != "rewrite") ||
        ((s.deleteFiles.nonEmpty ||
          s.properties.contains(SnapshotLog.PredDeleteKey)) && !carries)
    }.foreach { s =>
      throw new HistoryExpiredException(
        s"changes since $sinceId unavailable: snapshot ${s.snapshotId} " +
          s"(${s.operation}) rewrote or deleted rows; full re-sync required")
    }
    window.filter(s => s.operation != "compact" && s.operation != "rewrite")
      .flatMap(s => s.addedFiles.map(f =>
        tableDir.resolve(f).toString -> s.snapshotId))
  }

  /** Remove one manifest (snapshot-expiry path — see
    * GraftTable.expireSnapshots). */
  def deleteManifest(id: Long): Unit =
    Files.deleteIfExists(manifestPath(id))

  /** The one commit loop: every snapshot of every log publishes here.
    *
    * Each attempt lists the log and hands its head (None while the log
    * is empty) to `attempt`, which derives the commit against THAT head
    * — schema, operation name, compatibility and constraint checks,
    * property deltas — and returns it as `Right`, or declines with a
    * `Left` that publish returns as is. The log adds what it owns: the
    * id (head + 1, floored by [[Staged.atLeastId]]), the true parent
    * ([[SnapshotLog.ParentKey]]) and, once row lineage is on, the new
    * files' first row ids.
    *
    * The attempt then makes ONE `link(2)` of a temp manifest to the id's
    * name ([[SnapshotLog.linkNew]]), not an `ATOMIC_MOVE`: POSIX
    * `rename(2)` silently REPLACES an existing target, so a racing
    * committer could overwrite a published snapshot (found by the
    * commit-race property test). `link(2)` fails with EEXIST instead, so
    * it is the compare-and-swap: it succeeds only while the attempt's
    * head is still the head. A lost attempt deletes its
    * [[Staged.commitDir]] and the loop runs again over the new head; the
    * `limit`-th lost race gives up, naming `what`. Ids stay contiguous
    * and every commit durable. */
  def publish[A](what: String, limit: Int)(
      attempt: Option[Snapshot] => Either[A, Staged]): Either[A, Snapshot] = {
    Files.createDirectories(snapDir)
    @annotation.tailrec def run(lost: Int): Either[A, Snapshot] = {
      val snaps = snapshots
      attempt(snaps.lastOption) match {
        case Left(a) => Left(a)
        case Right(st) => link(snaps, st) match {
          case Some(snap) => Right(snap)
          case None =>
            st.commitDir.foreach(SnapshotLog.deleteTree)
            if (lost + 1 >= limit) throw new IllegalStateException(
              s"$what lost ${lost + 1} head races; giving up")
            run(lost + 1)
        }
      }
    }
    run(0)
  }

  /** [[publish]] for a commit decided at head `at` that must not be
    * re-derived (checkpoint, rollback, branch publish): it lands only
    * while `at` is the head, and a moved head throws
    * [[java.util.ConcurrentModificationException]] instead of silently
    * reverting or dropping the commit that moved it. */
  def publishAt(at: Long, what: String)(st: Staged): Snapshot =
    publish(what, SnapshotLog.RelinkLimit) { h =>
      val found = h.map(_.snapshotId).getOrElse(0L)
      if (found != at) throw new java.util.ConcurrentModificationException(
        s"snapshot head moved: expected $at, found $found")
      Right(st)
    }.merge

  /** One publish attempt over the listing `snaps`: link the manifest at
    * the id after their head. None ⇔ EEXIST, a commit took the id. */
  private def link(snaps: Seq[Snapshot], st: Staged): Option[Snapshot] = {
    val head = snaps.lastOption.map(_.snapshotId).getOrElse(0L)
    // ROW-LINEAGE auto-assignment (the Iceberg v3 first-row-id
    // inheritance): once lineage is enabled, every commit that adds
    // data files assigns each NEW file its first row id from the table
    // counter and re-states the advanced counter — from this attempt's
    // listing, so a lost race re-reads the winner's counter. Skipped
    // when the commit states lineage itself (enablement and checkpoint
    // carries pass RowIdNextKey; materializing rewrites pass
    // RowIdMaterializedKey — their files carry physical ids), and
    // per-file for rels that already have an identity (a rollback
    // re-listing old files must not re-number them).
    val props =
      if (st.files.isEmpty ||
          st.properties.contains(SnapshotLog.RowIdNextKey) ||
          st.properties.contains(SnapshotLog.RowIdMaterializedKey)) st.properties
      else SnapshotLog.rowIdNextOf(snaps) match {
        case None => st.properties
        case Some(next0) =>
          val known = SnapshotLog.rowIdFirsts(snaps).keySet ++
            SnapshotLog.rowIdMatRels(snaps)
          val fresh = st.files.filterNot(known).sorted
          if (fresh.isEmpty) st.properties
          else {
            var n = next0
            val entries = fresh.map { f =>
              val rows = st.stats.get(f).map(_.rows).getOrElse(-1L)
              require(rows >= 0, s"row lineage on this table needs a " +
                s"recorded row count for every added file; '$f' has none")
              val e = (SnapshotLog.RowIdFirstPrefix + f) -> n.toString
              n += rows
              e
            }
            st.properties ++ entries + (SnapshotLog.RowIdNextKey -> n.toString)
          }
      }
    val id = math.max(head + 1, st.atLeastId.getOrElse(0L))
    // record the TRUE parent (the head this attempt commits on top of);
    // a first commit (head 0) has no parent and records nothing
    val withParent =
      if (head == 0L || props.contains(SnapshotLog.ParentKey)) props
      else props + (SnapshotLog.ParentKey -> head.toString)
    val snap = Snapshot(id, System.currentTimeMillis(), st.operation,
      st.files, st.schemaJson, st.stats, st.removed, st.deleteFiles, withParent)
    Some(snap).filter(_ =>
      SnapshotLog.linkNew(manifestPath(id), SnapshotJson.write(snap)))
  }
}

/** Hand-rolled JSON for the manifest (no JSON library on the unmanaged
  * classpath beyond Spark's internals; the format is ours and tiny). */
private[warehouse] object SnapshotJson {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def write(s: Snapshot): String = {
    val files = s.addedFiles.map(f => "\"" + esc(f) + "\"").mkString("[", ",", "]")
    val removed = s.removedFiles.map(f => "\"" + esc(f) + "\"").mkString("[", ",", "]")
    val dels = s.deleteFiles.map(f => "\"" + esc(f) + "\"").mkString("[", ",", "]")
    def strMap(m: Map[String, String]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => "\"" + esc(k) + "\":\"" + esc(v) + "\"" }
        .mkString("{", ",", "}")
    def numMap(m: Map[String, Double]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => "\"" + esc(k) + "\":" + v }
        .mkString("{", ",", "}")
    def bloomMap(m: Map[String, Array[Byte]]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) =>
        "\"" + esc(k) + "\":\"" +
          java.util.Base64.getEncoder.encodeToString(v) + "\""
      }.mkString("{", ",", "}")
    val stats = s.stats.toSeq.sortBy(_._1).map { case (f, st) =>
      "\"" + esc(f) + "\":{" +
        "\"numMin\":" + numMap(st.numMin) + ",\"numMax\":" + numMap(st.numMax) +
        ",\"strMin\":" + strMap(st.strMin) + ",\"strMax\":" + strMap(st.strMax) +
        ",\"rows\":" + st.rows + ",\"bytes\":" + st.bytes +
        (if (st.blooms.isEmpty) ""
         else ",\"blooms\":" + bloomMap(st.blooms)) + "}"
    }.mkString("{", ",", "}")
    val props =
      if (s.properties.isEmpty) ""
      else ",\"properties\":" + strMap(s.properties)
    s"""{"snapshotId":${s.snapshotId},"timestampMs":${s.timestampMs},""" +
      s""""operation":"${esc(s.operation)}","addedFiles":$files,""" +
      s""""removedFiles":$removed,"deleteFiles":$dels,"stats":$stats$props,""" +
      s""""schemaJson":"${esc(s.schemaJson)}"}"""
  }

  /** Minimal parser for exactly the shape `write` emits. */
  def read(json: String): Snapshot = {
    // use Spark's bundled json4s (on the classpath via spark-catalyst)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val v = JsonMethods.parse(json)
    val stats = (v \ "stats") match {
      case JObject(fields) => fields.map { case (f, st) =>
        f -> FileStat(
          (st \ "numMin").extractOrElse[Map[String, Double]](Map.empty),
          (st \ "numMax").extractOrElse[Map[String, Double]](Map.empty),
          (st \ "strMin").extractOrElse[Map[String, String]](Map.empty),
          (st \ "strMax").extractOrElse[Map[String, String]](Map.empty),
          // pre-row-count manifests: UNKNOWN, not zero
          (st \ "rows").extractOrElse[Long](-1L),
          // absent before byte sizes were recorded
          (st \ "bytes").extractOrElse[Long](-1L),
          // absent before bloom skipping indexes existed
          (st \ "blooms").extractOrElse[Map[String, String]](Map.empty)
            .map { case (c, b64) =>
              c -> java.util.Base64.getDecoder.decode(b64) })
      }.toMap
      case _ => Map.empty[String, FileStat]
    }
    Snapshot(
      (v \ "snapshotId").extract[Long],
      (v \ "timestampMs").extract[Long],
      (v \ "operation").extract[String],
      (v \ "addedFiles").extract[Seq[String]],
      (v \ "schemaJson").extract[String],
      stats,
      // absent in pre-upsert manifests: default to no removals
      (v \ "removedFiles").extractOrElse[Seq[String]](Nil),
      // absent before merge-on-read deletes existed
      (v \ "deleteFiles").extractOrElse[Seq[String]](Nil),
      // absent before snapshot properties (txn markers) existed
      (v \ "properties").extractOrElse[Map[String, String]](Map.empty))
  }
}
