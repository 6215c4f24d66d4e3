package graft.warehouse

import java.nio.file.{Files, Path, Paths}
import java.util.UUID
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** A warehouse table: parquet data files + snapshot log.
  *
  * Capability-equivalent to the reference's Iceberg table usage
  * (`icerunner.py:133-178`: create + transactional append; `:209-259`:
  * snapshot ids + changes-since) rebuilt Spark-first — reads resolve a
  * file list from the log and hand it to Spark's vectorized parquet
  * reader, so filter pushdown / column pruning / partition coalescing
  * all apply as usual.
  *
  * Layout: `<dir>/data/s<commitUuid>/part-*.parquet` — each commit owns
  * a subdirectory, so data files are immutable and never renamed.
  */
final class GraftTable private (
    val name: String,
    val dir: Path,
    private[warehouse] val spark: SparkSession) {

  val log = new SnapshotLog(dir)

  def schema: StructType = schemaOf(log.head.getOrElse(throw noSnapshots))

  private def schemaOf(s: Snapshot): StructType =
    DataType.fromJson(s.schemaJson).asInstanceOf[StructType]

  /** How every read or write of an empty log refuses. */
  private def noSnapshots = new IllegalStateException(s"table $name has no snapshots")

  def currentSnapshotId: Option[Long] = log.currentSnapshotId

  /** Stable identity of this table's CREATE LINEAGE: a UUID file in
    * the table directory — it survives renames (it moves with the dir)
    * and history expiry, and CHANGES on drop+recreate. Derived
    * artifacts (the persisted IVF index) stamp it beside the corpus
    * snapshot id: a snapshot id alone is re-mintable — a table dropped
    * and recreated at the same name reaches head 1 again, so a stale
    * artifact stamped `snapshot=1` would otherwise be silently adopted
    * by a DIFFERENT corpus. Minted lazily for pre-r17 tables (the
    * artifact and its corpus then agree on the minted value). */
  def tableUuid: String = {
    val p = dir.resolve("_table_uuid")
    if (Files.exists(p)) new String(Files.readAllBytes(p), "UTF-8").trim
    else {
      val u = UUID.randomUUID().toString
      try {
        Files.write(p, u.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        u
      } catch {
        // a concurrent minter won the CREATE_NEW race — read its value
        case _: java.nio.file.FileAlreadyExistsException =>
          new String(Files.readAllBytes(p), "UTF-8").trim
      }
    }
  }

  /** Oldest RETAINED snapshot id — the post-expiry floor below which
    * reads see an empty visible set (time travel before it is gone).
    * Streaming sources floor their initial-batch clamp here. */
  def firstSnapshotId: Option[Long] =
    log.snapshots.headOption.map(_.snapshotId)

  /** Schema visible at a given snapshot (head when None) — time travel
    * across a schema evolution reads with the schema of that era. */
  def schemaAsOf(asOf: Option[Long]): StructType =
    schemaAsOfIn(log.snapshots, asOf)

  /** TIMESTAMP time travel (Iceberg's `snapshot_id_as_of` / Delta's
    * `TIMESTAMP AS OF`): the latest retained snapshot committed
    * at-or-before `tsMillis`. None when the timestamp predates every
    * RETAINED commit — before the table existed, or past the expiry
    * horizon; the caller distinguishes the two via [[firstSnapshotId]]
    * rather than this method guessing. Commit timestamps are
    * wall-clock and monotone in snapshot id only as far as the clock
    * is — the scan takes the LAST qualifying snapshot in id order, so
    * a small clock regression inside the log cannot split history. */
  def snapshotIdAsOfTime(tsMillis: Long): Option[Long] = {
    val qual = log.snapshots.filter(_.timestampMs <= tsMillis)
    qual.lastOption.map(_.snapshotId)
  }

  /** [[read]] pinned at the snapshot current at `tsMillis` — throws
    * when the timestamp predates retained history (reading "before the
    * table" as an empty relation would silently mask expiry). */
  def readAsOfTime(tsMillis: Long): DataFrame =
    read(Some(snapshotIdAsOfTime(tsMillis).getOrElse(
      throw new IllegalArgumentException(
        s"no retained snapshot of $name at-or-before epoch-ms $tsMillis" +
          s" — earliest retained is id ${firstSnapshotId.orNull}"))))

  /** Same resolution over an already-captured snapshot list (pairs
    * with SnapshotLog.dataFilesOf — one atomic log view serves every
    * derived value). Shared by read/diff/rollbackTo so the
    * schema-at-cut rule lives in exactly one place. */
  private def schemaAsOfIn(snaps: Seq[Snapshot],
      asOf: Option[Long]): StructType = {
    val cut = asOf.getOrElse(Long.MaxValue)
    snaps.filter(_.snapshotId <= cut).lastOption.orElse(snaps.lastOption)
      .map(s => DataType.fromJson(s.schemaJson).asInstanceOf[StructType])
      .getOrElse(throw noSnapshots)
  }

  /** Read the table head (or a past snapshot). Empty-but-created tables
    * read as an empty DataFrame with the committed schema. Live
    * merge-on-read equality deletes ([[deleteKeysMor]]) are applied
    * era-correctly: a delete scopes only data files committed before
    * it, so a later re-insert of a deleted key stays visible. */
  def read(asOf: Option[Long] = None): DataFrame = {
    val snaps = log.snapshots
    val sch = schemaAsOfIn(snaps, asOf)
    readWithDeletes(log.filesWithSnapOf(snaps, asOf),
      log.eqDeletesOf(snaps, asOf), sch, snaps)
  }

  /** [[read]] with a pre-tombstone-join `input_file_name()` column —
    * the (row, file) view the DML file-target probes need (see
    * [[readWithDeletes]]' tagFile note). */
  private def readTagged(asOf: Option[Long], fileCol: String): DataFrame = {
    val snaps = log.snapshots
    val sch = schemaAsOfIn(snaps, asOf)
    readWithDeletes(log.filesWithSnapOf(snaps, asOf),
      log.eqDeletesOf(snaps, asOf), sch, snaps, Some(fileCol))
  }

  private def emptyDf(sch: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)

  /** Era-correct decode of `filesWithSnap` projected to `target`: each
    * file reads with the schema of its ADDING snapshot's era and maps
    * to the current columns by FIELD ID ([[GraftTable.eraProjection]]
    * — the Iceberg column-projection contract), so a renamed column
    * keeps its data across old files, a dropped column disappears,
    * and a re-added name never resurrects retired bytes. Eras whose
    * mapping is the name-identity (no rename/drop in play — the
    * overwhelmingly common case, including plain additive evolution)
    * take the single vectorized by-name scan exactly as before; only
    * genuinely renamed eras pay a per-era Project + union. */
  /** @param posTag when set, every scan branch also carries the file's
    *   `_metadata.row_index` under this column name — the per-row
    *   position [[deletePosMor]] addresses rows by. Must be selected
    *   at the scan root (the metadata struct resolves only against a
    *   file-source relation, not above a union/join). */
  private def readFilesProjected(filesWithSnap: Seq[(String, Long)],
      snaps: Seq[Snapshot], target: StructType,
      posTag: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col => fcol}
    if (filesWithSnap.isEmpty) return emptyDf(target)
    val eraJson = scala.collection.mutable.Map.empty[Long, String]
    def eraOf(sid: Long): String =
      eraJson.getOrElseUpdate(sid, schemaAsOfIn(snaps, Some(sid)).json)
    // a file whose adding snapshot is a METADATA CHECKPOINT may carry a
    // per-file era binding ([[GraftTable.checkpoint]] records one for
    // every non-identity era it re-lists — the stored era has field ids
    // materialized, so this resolution survives expiry of the original
    // evolve history); files without a binding decode under the
    // checkpoint's own (head) schema, which IS their identity era
    lazy val ckBySid: Map[Long, Snapshot] = snaps.iterator
      .filter(_.properties.contains(GraftTable.CheckpointKey))
      .map(s => s.snapshotId -> s).toMap
    def eraOfFile(abs: String, sid: Long): String =
      ckBySid.get(sid) match {
        case Some(ck) =>
          GraftTable.checkpointEraOf(ck,
            dir.relativize(Paths.get(abs)).toString).getOrElse(eraOf(sid))
        case None => eraOf(sid)
      }
    lazy val legacy = GraftTable.legacyNames(snaps)
    val groups = filesWithSnap.groupBy { case (f, sid) => eraOfFile(f, sid) }
    // Every era whose mapping to `target` is the NAME-AND-TYPE identity
    // reads TOGETHER in one vectorized by-name scan (the parquet reader
    // null-fills additively-missing columns and skips dropped-name-free
    // extras) — so plain tables AND additively-evolved ones keep the
    // single-scan plan; only genuinely renamed/widened eras pay a
    // per-era decode + Project (PlanSpec pins both shapes).
    val fastFiles = Seq.newBuilder[String]
    val slowParts = Seq.newBuilder[DataFrame]
    groups.toSeq.sortBy(_._1).foreach { case (json, fs) =>
      val era = DataType.fromJson(json).asInstanceOf[StructType]
      val mapping = GraftTable.eraProjection(era, target, legacy)
      val eraNames = era.fieldNames.toSet
      // fast path needs name AND type identity: a widened column must
      // decode with its era's narrow physical type and cast (the
      // vectorized reader refuses an int32 page under a long schema)
      val nameIdentity = mapping.forall {
        case (Some(src), tgt) =>
          src.name == tgt.name && src.dataType == tgt.dataType
        case (None, tgt) => !eraNames.contains(tgt.name)
      }
      if (nameIdentity) fastFiles ++= fs.map(_._1)
      else {
        import org.apache.spark.sql.functions.{col, lit}
        // the lineage target columns (`_row_id`,
        // `_last_updated_sequence_number`) are PHYSICAL in the files of
        // this group even though no era schema lists them (lineage
        // reads pass target = era + lineage cols ONLY for
        // materialized-id files) — widen the decode schema so the real
        // values come through
        val lineageCols = Seq(GraftTable.RowIdCol, GraftTable.RowSeqCol)
          .filter(c => target.fieldNames.contains(c) &&
            !era.fieldNames.contains(c))
        val eraRead =
          if (lineageCols.isEmpty) era
          else StructType(era.fields ++ lineageCols.map(c =>
            org.apache.spark.sql.types.StructField(c,
              org.apache.spark.sql.types.LongType)))
        val raw = spark.read.schema(eraRead).parquet(fs.map(_._1): _*)
        val cols = mapping.map {
          case (Some(src), tgt) =>
            col(src.name).cast(tgt.dataType).as(tgt.name)
          case (None, tgt) if lineageCols.contains(tgt.name) =>
            col(tgt.name)
          // era predates the column: its declared default (if any)
          // fills here, mirroring what the fast path's reader does for
          // absent columns via the existence-default metadata
          case (None, tgt) => GraftTable.defaultOf(tgt)
            .getOrElse(lit(null).cast(tgt.dataType)).as(tgt.name)
        } ++ posTag.map(p => col("_metadata.row_index").as(p)).toSeq
        slowParts += raw.select(cols: _*)
      }
    }
    val fast = fastFiles.result()
    val parts =
      (if (fast.isEmpty) Nil
       else {
         val scan = spark.read.schema(target).parquet(fast: _*)
         Seq(posTag.map(p => scan.select(
             (target.fieldNames.map(fcol).toSeq :+
               fcol("_metadata.row_index").as(p)): _*))
           .getOrElse(scan))
       }) ++ slowParts.result()
    parts.reduce(_ unionByName _)
  }

  /** Assemble a read over `filesWithSnap` with the visible equality
    * deletes applied (Iceberg v2 sequence semantics): a delete
    * committed at snapshot d scopes exactly the data files whose
    * adding snapshot is < d. Files are grouped by the FIRST delete
    * that applies to them — one group per "era" between delete
    * commits, each anti-joined (null-safely, on the delete file's own
    * key columns) with every delete at-or-after its era. Plan cost:
    * |eras| ≤ |delete commits since the last compact| extra
    * anti-joins, each broadcast-sized in the common case (delete key
    * sets are small relative to the table). Files decode
    * era-projected ([[readFilesProjected]]); delete keys were
    * committed under current-era names (rename/drop refuse while
    * tombstones are live), so the anti-join binds on the projected
    * columns soundly. */
  /** @param tagFile when set, each era-group's scan gets an
    *   `input_file_name()` column of this name BEFORE any tombstone
    *   anti-join is applied — the DML probes need (row, file) pairs of
    *   the delete-applied view, and Spark's PreReadCheck refuses
    *   `input_file_name()` above a JOIN of two file sources (the key
    *   sidecar is one); tagging below the join is both legal and
    *   correct (the row's file is its data file, never the sidecar). */
  /** @param posTag when set, rows also carry their `_metadata.row_index`
    *   under this name (threaded to the scan roots) — the
    *   [[deletePosMor]] write probe needs (row, file, position). */
  private def readWithDeletes(filesWithSnap: Seq[(String, Long)],
      deletes: Seq[(Long, Tomb)], sch: StructType,
      snaps: Seq[Snapshot], tagFile: Option[String] = None,
      posTag: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, input_file_name, lit}
    def tag(df: DataFrame): DataFrame =
      tagFile.map(c => df.withColumn(c, input_file_name())).getOrElse(df)
    if (filesWithSnap.isEmpty) {
      var df = emptyDf(sch)
      posTag.foreach(c => df = df.withColumn(c, lit(null).cast("long")))
      return tag(df)
    }
    // POSITION tombstones are FILE-scoped (a position addresses one
    // immutable, never-reused file), so unlike key/predicate
    // tombstones they need no delete-era grouping: a file named by any
    // visible position sidecar reads as its own single-file scan with
    // the per-row `_metadata.row_index` anti-joined against the
    // sidecar's positions for that file — tagged BELOW the join (the
    // PreReadCheck rule, see tagFile note); unnamed files scan plain.
    val posTombs = deletes.collect { case (_, p: Tomb.Pos) => p }
    val rowDels = deletes.filterNot(_._2.isInstanceOf[Tomb.Pos])
    val namedRels: Set[String] = posTombs.flatMap(_.files).toSet
    lazy val sidecarDf =
      spark.read.parquet(posTombs.flatMap(_.sidecars): _*)
    def relOf(abs: String): String =
      dir.relativize(Paths.get(abs)).toString
    def readBase(fs: Seq[(String, Long)]): DataFrame = {
      val (named, plain) = fs.partition { case (a, _) =>
        namedRels.contains(relOf(a)) }
      val parts =
        (if (plain.nonEmpty)
          Seq(tag(readFilesProjected(plain, snaps, sch, posTag)))
        else Nil) ++
        named.map { case (a, sid) =>
          val pcol = posTag.getOrElse("__pd_pos")
          val one = tag(readFilesProjected(Seq((a, sid)), snaps, sch, Some(pcol)))
          val dead = sidecarDf.filter(col("file") === relOf(a))
            .select(col("pos").cast("long").as(pcol))
          val cleaned = one.join(dead, Seq(pcol), "left_anti")
          if (posTag.isEmpty) cleaned.drop(pcol)
          // restore the caller's column order (the USING join moved
          // the position column first)
          else cleaned.select(one.columns.map(col): _*)
        }
      parts.reduce(_ unionByName _)
    }
    if (rowDels.isEmpty) return readBase(filesWithSnap)
    val delSnaps = rowDels.map(_._1)
    // tombstone scoping honors inherited eras: a binpack output's rows
    // are scoped by the sid its SOURCES were committed at, not the
    // rewrite's own ([[GraftTable.tombSidOf]])
    lazy val tombBySid: Map[Long, Snapshot] = snaps.iterator
      .filter(_.properties.keys.exists(_.startsWith(GraftTable.TombSidPrefix)))
      .map(s => s.snapshotId -> s).toMap
    val groups = filesWithSnap.groupBy { case (a, s) =>
      // -1: committed after every delete
      delSnaps.indexWhere(_ > GraftTable.tombSidOf(tombBySid, dir, a, s))
    }
    groups.toSeq.sortBy(_._1).map { case (firstDel, fs) =>
      var df = readBase(fs)
      if (firstDel >= 0) rowDels.drop(firstDel).foreach {
        case (_, Tomb.Keys(p)) =>
          val kd = spark.read.parquet(p)
          val cond = kd.columns.map(c => df(c) <=> kd(c)).reduce(_ && _)
          df = df.join(kd, cond, "left_anti")
        case (_, Tomb.Pred(sql)) =>
          // SQL DELETE semantics: a NULL-evaluating predicate keeps
          // the row (only TRUE deletes) — same rule as deleteWhere
          df = df.filter(!org.apache.spark.sql.functions.coalesce(
            org.apache.spark.sql.functions.expr(sql),
            org.apache.spark.sql.functions.lit(false)))
        case (_, _: Tomb.Pos) => () // handled file-scoped in readBase
      }
      df
    }.reduce(_ unionByName _)
  }

  /** MERGE-ON-READ equality delete (Iceberg v2 / deletion-vector
    * write-latency shape): commit the KEY TUPLES to delete as a small
    * parquet sidecar — no data file is read or rewritten, so the
    * commit is O(|keys|) regardless of table size; reads apply the
    * tombstones ([[read]]) until a [[compact]] or [[replace]]
    * materializes them. Columns of `keys` name the equality columns
    * (any subset of the schema, types must match); NULL keys match
    * their stored NULL twins. Sequence semantics: rows appended AFTER
    * this commit are never affected, even for matching keys.
    *
    * Copy-on-write DML ([[upsert]]/[[merge]]/[[deleteWhere]]) runs
    * WITH live tombstones (since r13): the rewrite applies them to its
    * survivor selection and the rewritten files fall outside every
    * tombstone's era scope, while untouched files keep their
    * tombstones applying at read — Iceberg's rewrite behavior, no
    * pre-compact required. [[compactSmall]] era-groups its rewrite,
    * [[checkpoint]] CARRIES live tombstones across the expiry
    * horizon, and [[rollbackTo]] works whenever the delete set is
    * unchanged between its cuts (all r13). Branch forks work live
    * (WAP over tombstones, r13), [[cloneTo]] CARRIES live tombstones
    * into the clone (r14), and ADDITIVE evolution ([[addColumns]])
    * changes no bindings so it never refused; rename/widen/drop
    * refuse only for columns a live tombstone BINDS (key-sidecar
    * fields, stored-predicate references — r14), and incremental/
    * metadata readers still refuse while tombstones are live —
    * compact first ([[metaCount]] stays
    * exact under pure POSITION tombstones); [[GraftTable.diff]] stays
    * incremental across appends as long as the visible delete set is
    * unchanged between its cuts. */
  def deleteKeysMor(keys: DataFrame): Snapshot = {
    require(keys.schema.fields.nonEmpty, "delete needs at least one key column")
    def requireKeysIn(sch: StructType): Unit = keys.schema.fields.foreach { f =>
      val m = sch.fields.find(_.name == f.name)
      require(m.exists(_.dataType == f.dataType),
        s"equality-delete column ${f.name}: ${f.dataType} absent or " +
          s"mistyped for table schema $sch")
    }
    requireKeysIn(schema)
    val files = writeStaged(keys.distinct(), newCommitDir('e'))
    // the key columns must still bind at the head the delete lands on
    relink(s"equality delete of $name") { head =>
      requireKeysIn(schemaOf(head))
      Staged("eqdelete", Seq.empty, head.schemaJson, deleteFiles = files)
    }
  }

  /** PREDICATE merge-on-read delete: `DELETE WHERE` at O(1) write
    * latency — the predicate's SQL text commits in the snapshot's
    * properties, ZERO data files read or written (the copy-on-write
    * [[deleteWhere]] instead probes and rewrites every affected file).
    * Reads apply it era-correctly like [[deleteKeysMor]]: only data
    * files committed BEFORE the delete are filtered, so later appends
    * of matching rows stay visible (Iceberg sequence semantics);
    * [[compact]]/[[replace]] materialize and clear it. Same live-
    * tombstone rules as key tombstones: CoW DML folds it into its
    * rewrites; rollback, branches, incremental readers, and metadata
    * aggregates decline.
    *
    * The predicate must be DETERMINISTIC and reference only table
    * columns (validated by resolving it against the current schema —
    * a stored predicate that failed to re-parse would silently
    * resurrect rows on read). */
  def deleteWhereMor(cond: org.apache.spark.sql.Column): Snapshot =
    relink(s"predicate delete of $name") { head =>
      // resolve against the head's schema: unknown columns /
      // unresolvable functions throw HERE, not at some later read; the
      // stored SQL is rendered from the RESOLVED condition (the raw
      // Column wrapper's node has no stable SQL form in Spark 4)
      val sch = schemaOf(head)
      val analyzed = emptyDf(sch).filter(cond).queryExecution.analyzed
      val filterCond = analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.getOrElse(throw new IllegalArgumentException(
        s"predicate delete on $name: condition did not analyze to a filter"))
      require(filterCond.deterministic,
        s"predicate delete on $name requires a deterministic predicate")
      val sql = filterCond.sql
      // round-trip guard: the stored text must re-parse to the same
      // semantic filter (expr() is how every future read applies it)
      emptyDf(sch).filter(org.apache.spark.sql.functions.expr(sql))
        .queryExecution.assertAnalyzed()
      Staged("eqdelete", Seq.empty, head.schemaJson,
        properties = Map(SnapshotLog.PredDeleteKey -> sql))
    }

  /** POSITION merge-on-read delete (the Iceberg v2 position-delete /
    * deletion-vector shape — what engines emit for MERGE-produced
    * deletes without a key column): evaluate `cond` ONCE against the
    * current visible rows and commit the matching (file, row-position)
    * pairs as a parquet sidecar — zero data files rewritten, write
    * cost O(matching rows) + one column-pruned scan. Semantically
    * STRONGER file-scoping than [[deleteWhereMor]]: positions address
    * exact rows of exact immutable files, so a LATER append of rows
    * matching the same predicate is untouched by construction (no era
    * bookkeeping needed), and the predicate may even be
    * nondeterministic — it is a one-time selection, not a stored
    * filter. Reads anti-join only the NAMED files' `_metadata.row_index`
    * against the sidecar (unnamed files scan plain); [[compact]]/
    * [[replace]] materialize; same refusal set as the other tombstone
    * kinds (CoW DML folds them into its rewrites, rollback/branches/
    * incremental readers/metadata aggregates decline). NOT replayable
    * over the wire (positions are source-local) — a mirror window
    * containing one self-heals via changelog/rebuild. Returns the
    * unchanged head when nothing matches.
    *
    * CAS-committed against the head the probe read: positions bind to
    * EXACT files, so a concurrent rewrite (compact/merge/deleteWhere)
    * landing between probe and commit would make the just-committed
    * delete silently vacuous — the head race re-probes instead, like
    * every CoW DML. */
  def deletePosMor(cond: org.apache.spark.sql.Column): Snapshot = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit}
    publish(s"position delete of $name") { head =>
      val snaps = log.snapshots
      val sch = schemaAsOfIn(snaps, Some(head.snapshotId))
      val matches = readWithDeletes(
        log.filesWithSnapOf(snaps, Some(head.snapshotId)),
        log.eqDeletesOf(snaps, Some(head.snapshotId)), sch, snaps,
        tagFile = Some("__pd_f"), posTag = Some("__pd_pos"))
        .filter(coalesce(cond, lit(false)))
        .select(col("__pd_f"), col("__pd_pos"))
      // ONE evaluation feeds both the uri collect and the sidecar
      // write: the scaladoc blesses nondeterministic predicates as a
      // one-time selection, and two scans of an uncached probe could
      // disagree (rows matching only in the second, in files absent
      // from the first, would be dropped by the join below) — persist
      // pins the selection and saves the second full scan.
      matches.persist()
      try {
        // ONE collect yields the affected files and each one's position
        // count (the counts keep the metadata-only COUNT exact under
        // pure position tombstones, [[metaCount]]); a driver list
        // bounded by the AFFECTED file count — the same discipline as
        // every DML probe. The probe holds each (file, pos) once: the
        // visible files are distinct, row_index is unique within a file
        // and the tombstone anti-joins never duplicate a row. The uri →
        // rel mapping happens here (driver, via the proven URI parse),
        // so no row-side path decoding can ever mis-bind a position.
        val perUri = matches.groupBy("__pd_f").count().collect()
          .map(r => r.getString(0) -> r.getLong(1))
        if (perUri.isEmpty) None
        else {
          val relByUri = perUri.map { case (u, _) => u -> relOfUri(u) }.toMap
          val mapDf = spark.createDataFrame(
            spark.sparkContext.parallelize(relByUri.toSeq.map {
              case (u, r) => org.apache.spark.sql.Row(u, r) }, 1),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("__pd_f",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("file",
                org.apache.spark.sql.types.StringType))))
          val commitDir = newCommitDir('x')
          // one sidecar file per commit: positions are two narrow
          // columns, and every read of a named file opens each sidecar
          val files = writeStaged(matches.join(broadcast(mapDf), "__pd_f")
            .select(col("file"), col("__pd_pos").cast("long").as("pos"))
            .coalesce(1), commitDir)
          val counts = perUri.map { case (u, n) =>
            (SnapshotLog.PosCountPrefix + relByUri(u)) -> n.toString }.toMap
          Some(Staged("posdelete", Seq.empty, head.schemaJson,
            deleteFiles = files, commitDir = Some(commitDir),
            properties = counts ++ Map(SnapshotLog.PosDeleteKey -> "1",
              SnapshotLog.PosFilesKey ->
                relByUri.values.toSeq.sorted.mkString("\n"))))
        }
      } finally matches.unpersist()
    }.merge
  }

  /** Live merge-on-read tombstones at a cut (empty ⇔ reads are
    * pure-file-set; see [[deleteKeysMor]] / [[deleteWhereMor]]). */
  def liveEqDeletes(asOf: Option[Long] = None): Seq[(Long, Tomb)] =
    log.eqDeletesOf(log.snapshots, asOf)

  /** The key tuples one `eqdelete` snapshot committed — what a replica
    * needs to REPLAY the delete (Mirror's op-log path). */
  def deleteKeysOf(snapshotId: Long): DataFrame = {
    val snap = log.snapshots.find(_.snapshotId == snapshotId).getOrElse(
      throw new HistoryExpiredException(
        s"snapshot $snapshotId of $name expired or never committed"))
    require(snap.deleteFiles.nonEmpty &&
        !snap.properties.contains(SnapshotLog.PosDeleteKey),
      s"snapshot $snapshotId of $name is not an equality delete")
    spark.read.parquet(snap.deleteFiles.map(f => dir.resolve(f).toString): _*)
  }

  /** Highest micro-batch id a streaming sink identified by `appId` has
    * COMMITTED into this table (the Delta `txn` lookup): scans visible
    * manifests for `graft.txn.*` markers. A sink replaying a batch
    * after a crash-between-commit-and-checkpoint compares its batchId
    * against this and no-ops — the exactly-once half the checkpoint
    * alone cannot give. Caveat: [[expireSnapshots]] past the LAST
    * marker of an app forgets it; expiry should keep at least one
    * recent snapshot per live sink (replay windows are short — the
    * batch right after a crash — so any sane retention satisfies
    * this). */
  def lastTxnBatch(appId: String): Option[Long] = {
    val snaps = log.snapshots
    snaps.flatMap { s =>
      val direct =
        if (s.properties.get(GraftTable.TxnAppIdKey).contains(appId))
          s.properties.get(GraftTable.TxnBatchKey).flatMap(_.toLongOption)
        else None
      // markers CARRIED across an expiry horizon by compact/checkpoint
      val carried = s.properties
        .get(GraftTable.TxnCarryPrefix + appId).flatMap(_.toLongOption)
      direct.toSeq ++ carried.toSeq
    }.maxOption
  }

  /** The latest batchId per streaming appId across `snaps`, re-keyed
    * for carry-forward: full-set snapshots (compact/checkpoint — the
    * only valid expiry horizons) record these so expiring the
    * manifests that held the direct markers cannot forget a sink's
    * progress and re-open the crash-replay window [[lastTxnBatch]]
    * closes. */
  private def carriedTxnMarkers(snaps: Seq[Snapshot]): Map[String, String] = {
    val latest = scala.collection.mutable.Map.empty[String, Long]
    def bump(a: String, b: Long): Unit =
      latest(a) = math.max(latest.getOrElse(a, Long.MinValue), b)
    snaps.foreach { s =>
      for (a <- s.properties.get(GraftTable.TxnAppIdKey);
           b <- s.properties.get(GraftTable.TxnBatchKey).flatMap(_.toLongOption))
        bump(a, b)
      s.properties.foreach { case (k, v) =>
        if (k.startsWith(GraftTable.TxnCarryPrefix))
          v.toLongOption.foreach(bump(k.stripPrefix(GraftTable.TxnCarryPrefix), _))
      }
    }
    latest.map { case (a, b) =>
      (GraftTable.TxnCarryPrefix + a) -> b.toString }.toMap
  }

  /** Rows appended by snapshots in `(sinceId, head]` — incremental read
    * without any join (fixes `icerunner.py:243-252`, SURVEY.md §2A-12). */
  def changesSince(sinceId: Long, untilId: Long = Long.MaxValue): DataFrame = {
    val files = log.changedFilesWithSnap(sinceId, untilId)
    // era-projected: a rename in the window is an evolve commit (no
    // files), but files added BEFORE it still decode under their own
    // era's names and map to the current columns by field id
    readFilesProjected(files, log.snapshots, schema)
  }

  /** Transactional append: write data files first, commit the manifest
    * last (see SnapshotLog commit protocol). Insert-only, matching the
    * reference (no update/delete path exists there either).
    *
    * Scale controls (both optional, both Iceberg-shaped):
    *  - `clusterBy`: range-repartition on these columns before writing,
    *    so each data file covers a narrow value range — what makes the
    *    recorded stats selective;
    *  - `statsCols`: record per-file min/max for these columns (plus the
    *    cluster columns) in the manifest, enabling [[readWhere]] to
    *    prune files at planning time without touching parquet footers.
    */
  // ---- hidden partitioning (see Partitioning.scala) -----------------

  private def specsPath: Path = dir.resolve("partition_specs.txt")
  private val specLog = new LineLog(dir.resolve("partition_specs"), 's',
    "partition-spec")

  /** Declare the partition spec used by FUTURE [[append]]s (Iceberg
    * hidden partitioning: transforms over source columns, not stored
    * columns). Changing the spec is metadata-only — NO rewrite: files
    * written under earlier specs keep their era's manifest entries and
    * keep pruning correctly ([[Partitioning]] scaladoc). Pass Nil to
    * stop partitioning new writes.
    *
    * Each declaration publishes its OWN versioned file via `link(2)`
    * (same CAS protocol as every manifest commit): a racing committer
    * loses with EEXIST and retries with the next version, so a
    * concurrent declaration can never be silently lost — the
    * read-prior/append/replace shape this replaced dropped one of two
    * racing spec lines, leaving later writes recording entries for a
    * spec era readers never probed. Pre-CAS tables' legacy
    * `partition_specs.txt` is still read as the earliest history. */
  def setPartitionSpec(fields: Seq[PartitionField]): Unit = {
    log.head.foreach { _ =>
      val names = schema.fieldNames.toSet
      fields.foreach(f => require(names.contains(f.column),
        s"partition column '${f.column}' not in schema of $name"))
    }
    declareSpecLine(fields)
  }

  /** The CAS publish step alone, schema check already done by the
    * caller — [[replace]] validates a redeclared spec against the
    * REPLACEMENT's schema (the current schema is about to be swapped
    * out, so checking against it would wrongly refuse a spec on a
    * column the replacement introduces). */
  private def declareSpecLine(fields: Seq[PartitionField]): Unit =
    specLog.publish(Partitioning.specLine(fields))

  /** A directory of versioned one-line files `<letter><16-digit
    * version>.txt`, each published by `link(2)` ([[SnapshotLog.linkNew]]):
    * a racing publisher loses with EEXIST and retries under the next
    * version, so concurrent declarations are never silently dropped.
    * Partition specs and CHECK constraints are both kept this way. */
  private final class LineLog(d: Path, letter: Char, what: String) {
    private def fileOf(v: Long): Path = d.resolve(f"$letter$v%016d.txt")

    def versions: Seq[Long] =
      if (!Files.isDirectory(d)) Nil
      else {
        val listing = Files.list(d) // close: fd leak otherwise
        try listing.iterator().asScala
          .map(_.getFileName.toString)
          .filter(_.matches(s"$letter\\d{16}\\.txt"))
          .map(n => n.substring(1, 17).toLong)
          .toSeq.sorted
        finally listing.close()
      }

    /** Every published line, raw, in version order. */
    def lines: Seq[String] = versions.map(v => Files.readString(fileOf(v)))

    /** Copy every version file into `to` (a clone's own directory). */
    def copyInto(to: Path): Unit =
      if (Files.isDirectory(d)) {
        Files.createDirectories(to)
        versions.foreach(v =>
          Files.copy(fileOf(v), to.resolve(fileOf(v).getFileName)))
      }

    def publish(line: String): Unit = {
      Files.createDirectories(d)
      // a lost race re-probes the versions and retries under the next
      if (!Iterator.range(0, SnapshotLog.RelinkLimit).exists(_ =>
          SnapshotLog.linkNew(fileOf(versions.lastOption.getOrElse(0L) + 1),
            line + "\n")))
        throw new IllegalStateException(
          s"$what contention: ${SnapshotLog.RelinkLimit} failed attempts")
    }
  }

  /** All declared spec lines in declaration order: legacy single-file
    * lines (pre-CAS tables) first, then versioned CAS files. */
  private def specLines: Seq[String] = {
    val legacy =
      if (!Files.exists(specsPath)) Nil
      else Files.readAllLines(specsPath).asScala.toSeq.filter(_.nonEmpty)
    val versioned = specLog.lines.map(_.trim)
    legacy ++ versioned
  }

  /** The spec new appends will use (last declared; Nil = unpartitioned). */
  def partitionSpec: Seq[PartitionField] =
    specLines.lastOption.map(Partitioning.parseSpecLine).getOrElse(Nil)

  /** Serialized forms of the declared layout, for wire replication
    * ([[graft.service.Mirror]] applies a source's layout to its
    * replica so delta appends land prunable there too). */
  def partitionSpecSerialized: String = Partitioning.specLine(partitionSpec)

  def setPartitionSpecSerialized(line: String): Unit =
    setPartitionSpec(Partitioning.parseSpecLine(line))

  /** Every field EVER declared — readers probe all eras' entries. */
  def partitionSpecHistory: Seq[PartitionField] =
    specLines.flatMap(Partitioning.parseSpecLine).distinct

  /** Map a range predicate on a source column through every MONOTONE
    * transform in the spec history → extra manifest probes in partition
    * space (bucket scrambles order and is point-only, [[readWhereIn]]).
    * Unsupported bound/type combinations skip the probe (conservative). */
  private def partitionProbes(sch: StructType, c: String,
      lo: Option[Any], hi: Option[Any])
      : Seq[(String, Option[Any], Option[Any])] =
    partitionSpecHistory.filter(f => f.column == c && f.monotone).flatMap { f =>
      sch.fields.find(_.name == c).map(_.dataType) match {
        case Some(dt) if f.recordable(dt) =>
          scala.util.Try((f.statName,
            lo.map(f.apply(_, dt)), hi.map(f.apply(_, dt)))).toOption
        case _ => None
      }
    }

  /** @param bloomCols columns to record a per-file BLOOM FILTER for in
    *   the manifest (over xxhash64 of the value, Spark's own
    *   `bloom_filter_agg`): the point-lookup skipping index for
    *   UNCLUSTERED high-cardinality columns where min/max ranges prune
    *   nothing. [[readWhereIn]] probes it; ~2% false positives cost a
    *   spurious file read, false negatives are impossible. */
  // ---- declared default layout (Iceberg sort orders) ----------------

  private def sortOrderPath: Path = dir.resolve("sort_order.txt")

  /** Declare the table's DEFAULT clustered layout (Iceberg's sort
    * order): every future [[append]] and plain [[compact]] that does
    * not request an explicit layout range-clusters on these columns
    * and records their stats, so writers stop re-stating the layout at
    * every call site and file skipping holds by default. Metadata-only
    * (existing files keep their layout); Nil clears it. */
  def setSortOrder(cols: Seq[String]): Unit = {
    log.head.foreach { _ =>
      val names = schema.fieldNames.toSet
      cols.foreach(c => require(names.contains(c),
        s"sort-order column '$c' not in schema of $name"))
    }
    cols.foreach(c => require(!c.contains(',') && !c.contains('\n'),
      s"unsupported character in sort-order column '$c'"))
    val tmp = SnapshotLog.writeTemp(dir, ".sort-", cols.mkString(","))
    Files.move(tmp, sortOrderPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  def sortOrder: Seq[String] =
    if (!Files.exists(sortOrderPath)) Nil
    else Files.readString(sortOrderPath).split(",").toSeq
      .map(_.trim).filter(_.nonEmpty)

  // ---- CHECK constraints (Delta's ALTER TABLE ADD CONSTRAINT) -------

  private val constraintLog = new LineLog(dir.resolve("constraints"), 'c',
    "constraint")

  /** (name, status, referenced columns, sql) per declaration, in CAS
    * version order — the fold's last entry per name wins. */
  private def constraintEntries: Seq[(String, String, Set[String], String)] =
    constraintLog.lines.map { raw =>
      val parts = raw.stripLineEnd.split("\t", 4)
      (parts(0), parts(1),
        parts(2).split(',').filter(_.nonEmpty).toSet,
        if (parts.length > 3) parts(3) else "")
    }

  /** Active CHECK constraints: name → predicate SQL. */
  def checkConstraints: Map[String, String] =
    constraintEntries.foldLeft(Map.empty[String, String]) {
      case (acc, (n, "ACTIVE", _, sql)) => acc + (n -> sql)
      case (acc, (n, _, _, _)) => acc - n
    }

  /** Columns each ACTIVE constraint references (the rename/drop guard). */
  private def constraintCols: Map[String, Set[String]] =
    constraintEntries.foldLeft(Map.empty[String, Set[String]]) {
      case (acc, (n, "ACTIVE", cols, _)) => acc + (n -> cols)
      case (acc, (n, _, _, _)) => acc - n
    }

  /** Declare a table-level CHECK constraint (Delta's `ALTER TABLE ADD
    * CONSTRAINT`): every FUTURE write that introduces rows — append,
    * upsert/merge incoming, replace, overwriteWhere — refuses when any
    * incoming row evaluates the predicate to FALSE (SQL semantics:
    * NULL passes, like a CHECK). Existing rows are validated NOW, one
    * scan — a constraint the current data violates is a lie and is
    * refused (Delta's rule). The predicate must be deterministic and
    * reference only current columns; rename/drop of a referenced
    * column refuses while the constraint is active. Enforcement costs
    * one extra aggregate pass over each write's incoming rows — zero
    * when no constraints are declared. */
  def addCheckConstraint(cname: String, sql: String): Unit = {
    require(cname.matches("[A-Za-z0-9_-]+"), s"invalid constraint name: '$cname'")
    require(!checkConstraints.contains(cname),
      s"constraint '$cname' already active on $name")
    require(!sql.contains('\n') && !sql.contains('\t'),
      "constraint SQL must be a single tab-free line")
    val cond = org.apache.spark.sql.functions.expr(sql)
    val analyzed = emptyDf(schema).filter(cond).queryExecution.analyzed
    val filterCond = analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.getOrElse(throw new IllegalArgumentException(
      s"constraint '$cname' on $name: predicate did not analyze to a filter"))
    require(filterCond.deterministic,
      s"constraint '$cname' on $name must be deterministic")
    val cols = filterCond.references.map(_.name).toSet
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    def violated(): Boolean =
      read().filter(not(coalesce(cond, lit(true)))).limit(1).count() != 0
    val h0 = log.head.map(_.snapshotId)
    if (h0.nonEmpty)
      require(!violated(),
        s"cannot add constraint '$cname' to $name: existing rows violate it")
    constraintLog.publish(
      s"$cname\tACTIVE\t${cols.toSeq.sorted.mkString(",")}\t$sql")
    // The validation above ran at a PRE-publish head: a write landing
    // between that scan and the publish carries rows no enforcement
    // pass ever saw (its constraints read predated the declaration).
    // If the head moved, re-validate and ROLL the declaration BACK on
    // violation — the table is never left with an ACTIVE constraint
    // its visible data provably violates. Residual window (accepted —
    // CAS, not locks, same as every commit path): a write whose
    // enforcement read predated the publish but whose commit lands
    // after this re-check escapes both passes.
    val h1 = log.head.map(_.snapshotId)
    if (h1 != h0 && h1.nonEmpty && violated()) {
      constraintLog.publish(s"$cname\tDROPPED\t\t")
      throw new IllegalArgumentException(
        s"cannot add constraint '$cname' to $name: rows committed " +
          "concurrently with the declaration violate it — rolled back")
    }
  }

  def dropCheckConstraint(cname: String): Unit = {
    require(checkConstraints.contains(cname),
      s"no active constraint '$cname' on $name")
    constraintLog.publish(s"$cname\tDROPPED\t\t")
  }

  /** One aggregate pass over `df` counting violations of every
    * constraint in `active` at once; throws naming the violated ones.
    * No-op (no scan at all) when there are none. */
  private def enforceConstraints(df: DataFrame, op: String,
      active: Map[String, String] = checkConstraints): Unit = {
    val cs = active.toSeq.sortBy(_._1)
    if (cs.isEmpty) return
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not, sum, when}
    val aggs = cs.map { case (n, sql) =>
      sum(when(not(coalesce(expr(sql), lit(true))), 1L).otherwise(0L)).as(n) }
    val row = df.agg(aggs.head, aggs.tail: _*).collect().head
    val violated = cs.zipWithIndex.collect {
      case ((n, sql), i) if !row.isNullAt(i) && row.getLong(i) > 0 =>
        s"'$n' (${row.getLong(i)} row(s): $sql)"
    }
    require(violated.isEmpty,
      s"$op on $name violates CHECK constraint(s) ${violated.mkString(", ")}")
  }

  def append(df0: DataFrame, clusterBy: Seq[String] = Nil,
      statsCols: Seq[String] = Nil, clusterParts: Int = 0,
      bloomCols: Seq[String] = Nil,
      properties: Map[String, String] = Map.empty): Snapshot = {
    val existing = log.head
    // write-default: a writer may OMIT a defaulted column entirely —
    // it is filled with the declared constant and the frame reordered
    // to the table schema (the Iceberg v3 write-default half; an
    // explicitly provided column, even all-NULL, is kept as given)
    val df = existing.map { h =>
      val expected = DataType.fromJson(h.schemaJson).asInstanceOf[StructType]
      val missing = expected.fields.filter(f =>
        !df0.columns.contains(f.name) && GraftTable.writeDefaultOf(f).nonEmpty)
      // fill ONLY when the incoming columns are a subset of the table's
      // — an unknown extra column (a typo'd name) must keep failing the
      // schema check loudly, not be silently discarded by the reorder
      if (missing.isEmpty ||
          !df0.columns.forall(expected.fieldNames.contains) ||
          !expected.fieldNames.forall(n =>
            df0.columns.contains(n) || missing.exists(_.name == n))) df0
      else {
        val filled = missing.foldLeft(df0)((d, f) =>
          d.withColumn(f.name, GraftTable.writeDefaultOf(f).get))
        filled.select(expected.fieldNames.toSeq.map(
          org.apache.spark.sql.functions.col): _*)
      }
    }.getOrElse(df0)
    existing.foreach(h => requireSchema("append", schemaOf(h), df.schema))
    val enforced = checkConstraints
    enforceConstraints(df, "append", enforced)
    healRenamedLayouts()
    val commitDir = newCommitDir('s')
    // an explicit clusterBy wins; otherwise the table's declared sort
    // order applies by default ([[setSortOrder]])
    val effCluster =
      if (clusterBy.nonEmpty) clusterBy
      else sortOrder.filter(df.schema.fieldNames.contains)
    val pspec = specOver(df.schema)
    val out =
      if (effCluster.nonEmpty) {
        val cols = effCluster.map(org.apache.spark.sql.functions.col)
        // explicit partition count pins file granularity (AQE otherwise
        // coalesces small test/tail writes into one wide-range file)
        if (clusterParts > 0) df.repartitionByRange(clusterParts, cols: _*)
        else df.repartitionByRange(cols: _*)
      } else if (pspec.nonEmpty) {
        // hash write distribution (Iceberg's distribution-mode=hash):
        // an UNSHUFFLED partitioned write emits one file per
        // (partition value × task) — at cluster scale that is
        // tasks × |values| small files per commit. One shuffle keyed
        // on the partition-derivation expressions puts each value in
        // exactly one task → one file per value per commit. A hot
        // value serializes into its one task; writers needing
        // intra-value parallelism pass clusterBy (range clustering
        // keeps multi-task splits) — same trade Iceberg documents.
        df.repartition(pspec.map(f =>
          f.expr(df.schema(f.column).dataType)): _*)
      } else df
    val files = writeStaged(out, commitDir, pspec)
    val stats = stageStats(commitDir, (effCluster ++ statsCols).distinct,
      pspec, df.schema, bloomCols.filter(df.schema.fieldNames.contains))
    landStaged("append", df.schema, files, stats, properties, Some(enforced))
  }

  /** Commit files staged ONCE, before the loop, as the fresh head's
    * `create` or `append` under its schema. Each attempt re-checks the
    * staged shape `got`: columns the head gained since (a racing
    * [[addColumns]]) read back as NULL or their initial default; any
    * other difference refuses. A CHECK constraint declared after the
    * write passed `enforced` is enforced on the staged rows. */
  private def landStaged(op: String, got: StructType, files: Seq[String],
      stats: Map[String, FileStat], properties: Map[String, String] = Map.empty,
      enforced: Option[Map[String, String]] = None): Snapshot =
    log.publish(s"$op to $name", SnapshotLog.RelinkLimit) { h =>
      h.foreach { head =>
        val sch = schemaOf(head)
        require(compatible(StructType(sch.fields.filter(f =>
            got.fieldNames.contains(f.name))), got),
          s"$op schema mismatch for $name:\n expected $sch\n got $got")
      }
      enforced.foreach { done =>
        val fresh = checkConstraints.filterNot { case (n, q) => done.get(n).contains(q) }
        if (fresh.nonEmpty) enforceConstraints(spark.read.schema(got)
          .parquet(files.map(f => dir.resolve(f).toString): _*), op, fresh)
      }
      Right(Staged(if (h.isEmpty) "create" else "append", files,
        h.fold(got.json)(_.schemaJson), stats, properties = properties))
    }.merge

  private def requireSchema(op: String, expected: StructType, got: StructType): Unit =
    require(compatible(expected, got),
      s"$op schema mismatch for $name:\n expected $expected\n got $got")

  /** Per-file bloom sketches for `cols`, sized from the commit's own
    * row counts, merged into the stat map. One distributed aggregation
    * over the freshly-written files; driver holds ≤ numBits/8 bytes per
    * (file, column). */
  private def mergeBlooms(commitDir: Path, stats: Map[String, FileStat],
      cols: Seq[String]): Map[String, FileStat] = {
    if (cols.isEmpty) return stats
    import org.apache.spark.sql.GraftColumnBridge.{column => ec, expression => ex}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.functions.{col, input_file_name, xxhash64}
    val nFiles = math.max(1, stats.size)
    val knownRows = stats.values.map(_.rows).filter(_ > 0)
    val items = math.max(1024L,
      if (knownRows.isEmpty) 4096L else knownRows.sum * 2 / nFiles)
    val bits = math.min(1L << 23, math.max(1L << 13, items * 10))
    val aggs = cols.map { c =>
      ec(new BloomFilterAggregate(ex(xxhash64(col(c))),
        Literal(items), Literal(bits)).toAggregateExpression()).as(s"__bf_$c")
    }
    // explicit file list, not the directory: a commit dir may nest
    // non-partition subdirectories (binpack era groups), which break
    // Spark's directory-based partition inference
    val rows = spark.read
      .parquet(parquetFilesIn(commitDir).map(_.toString): _*)
      .groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val byFile = rows.map { r =>
      val rel = relOfUri(r.getAs[String]("__f"))
      rel -> cols.flatMap(c =>
        Option(r.getAs[Array[Byte]](s"__bf_$c")).map(c -> _)).toMap
    }.toMap
    stats.map { case (rel, st) =>
      rel -> byFile.get(rel).filter(_.nonEmpty)
        .map(b => st.copy(blooms = b)).getOrElse(st)
    }
  }

  /** Driver-side twin of the engine's `xxhash64(col)` on one value —
    * evaluates the SAME Catalyst expression on a literal normalized to
    * the column type (a widened Int would hash differently). None ⇒
    * the caller skips the bloom probe (conservative). */
  private def xxhashOf(v: Any, dt: DataType): Option[Long] = scala.util.Try {
    import org.apache.spark.sql.types._
    val norm: Any = dt match {
      case LongType    => v.asInstanceOf[Number].longValue
      case IntegerType => v.asInstanceOf[Number].intValue
      case ShortType   => v.asInstanceOf[Number].shortValue
      case ByteType    => v.asInstanceOf[Number].byteValue
      case StringType  => v.toString
      case _           => v
    }
    new org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(
      org.apache.spark.sql.catalyst.expressions.Literal.create(norm, dt)))
      .eval(null).asInstanceOf[Long]
  }.toOption

  /** ZERO-REWRITE IMPORT (Iceberg's `add_files` / Delta's CONVERT
    * shape): register existing parquet files as ONE append snapshot
    * without reading or rewriting a data byte — the migration path
    * that adopts a 100 TB directory in O(files) metadata work. Files
    * are HARDLINKED into a commit directory (same filesystem, zero
    * copy; falls back to a real copy cross-device), so the table owns
    * its bytes with the usual immutability/GC story and the source
    * stays untouched. Schema must match the table's (verified from the
    * first file's footer via Spark's schema reader — cheap); stats
    * recording matches [[append]]: footer row counts always,
    * `statsCols` min/max and `bloomCols` sketches on request (those
    * two do read the files — the zero-read import is the default). */
  def addFiles(paths: Seq[Path], statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Snapshot = {
    require(paths.nonEmpty, "addFiles needs at least one file")
    paths.foreach(p => require(Files.isRegularFile(p), s"not a file: $p"))
    val existing = log.head
    // a create takes Spark's schema over every file; an append checks
    // the first file's footer (see scaladoc)
    val got = spark.read.parquet((if (existing.isEmpty) paths else paths.take(1))
      .map(_.toString): _*).schema
    existing.foreach(h => requireSchema("addFiles", schemaOf(h), got))
    val commitDir = newCommitDir('i')
    Files.createDirectories(commitDir)
    val linked = paths.zipWithIndex.map { case (src, i) =>
      val dst = commitDir.resolve(f"import-$i%05d.parquet")
      try Files.createLink(dst, src)
      catch { case _: Exception => Files.copy(src, dst) }
      dst
    }
    val files = linked.map(p => dir.relativize(p).toString).sorted
    val stats = stageStats(commitDir, statsCols.distinct,
      bloomCols = bloomCols.filter(got.fieldNames.contains))
    landStaged("addFiles", got, files, stats)
  }

  // ---- commit pipeline: stage → stats → publish ---------------------
  // Every data-writing primitive computes its frame, its removed set and
  // its properties; staging the files, their manifest stats and the one
  // CAS retry loop live here.

  /** All parquet data files under `root`, recursively (partitioned
    * commits nest files in one directory per partition value). */
  private def parquetFilesIn(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    finally s.close()
  }

  /** A fresh commit directory; its first letter names the kind of
    * write that staged it. */
  private def newCommitDir(letter: Char): Path =
    dir.resolve("data").resolve(s"$letter${UUID.randomUUID().toString.take(12)}")

  /** Manifest-relative path of a scanned file's URI (as
    * `input_file_name()` renders it). */
  private def relOfUri(uri: String): String =
    dir.relativize(Paths.get(java.net.URI.create(uri).getPath)).toString

  /** The distinct files `probe`'s `__f` column names, manifest-relative
    * and sorted — a driver list bounded by the affected file count.
    * Each task ships its own distinct names, so the probe is one
    * shuffle-free job (a `distinct()` costs a shuffle and a second job). */
  private def affectedFiles(probe: DataFrame): Seq[String] = {
    import org.apache.spark.sql.Encoders
    probe.select("__f").as(Encoders.STRING)
      .mapPartitions((it: Iterator[String]) => it.toSet.iterator)(Encoders.STRING)
      .collect().distinct.map(relOfUri).toSeq.sorted
  }

  /** The rows of a driver-local plan — a local relation, alone or under
    * the coalescing repartition [[graft.service.ArrowCodec.read]] puts
    * over a body — with its output column names. None for any plan
    * whose rows would take a Spark job to see. */
  private def localRows(df: DataFrame)
      : Option[(Seq[String], Seq[org.apache.spark.sql.catalyst.InternalRow])] = {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Repartition}
    def local(p: LogicalPlan) = p match {
      case l: LocalRelation if !l.isStreaming => Some((l.output.map(_.name), l.data))
      case _ => None
    }
    df.queryExecution.optimizedPlan match {
      case Repartition(_, false, child) => local(child)
      case p => local(p)
    }
  }

  /** How a copy-on-write merge matches stored rows to the incoming key
    * tuples, null-safely (`<=>`, so a NULL key finds its stored NULL
    * twin): `hit` keeps the stored rows whose key is an incoming key,
    * `miss` the others. `bounds` is the single key's (min, max) for
    * stats pruning — None when there are several keys, a NULL key, no
    * key, or a type with no range stats (range pruning would be unsound:
    * file stats skip nulls). */
  private final case class KeyMatch(hit: DataFrame => DataFrame,
      miss: DataFrame => DataFrame, bounds: Option[(Any, Any)])

  /** [[KeyMatch]] for `incoming`'s `keyCols`. A driver-local `incoming`
    * ([[localRows]]) whose key types compare by value is matched with an
    * in-set filter over its key tuples, and its bounds are taken on the
    * driver: no Spark job, no broadcast. Any other plan is matched with
    * semi- and anti-joins against its key projection (duplicate keys are
    * harmless to both) and pays one aggregate for its bounds. */
  private def keyMatch(incoming: DataFrame, keyCols: Seq[String]): KeyMatch = {
    import org.apache.spark.sql.GraftColumnBridge.{column => ec, expression => ex}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.InSet
    import org.apache.spark.sql.functions.{col, lit, struct, when}
    import org.apache.spark.sql.types._
    val keyed = incoming.select(keyCols.map(col): _*)
    val names = keyed.columns.toSeq
    val types = keyed.schema.fields.toSeq.map(_.dataType)
    // types whose in-set lookup (hash or ordering) agrees with `<=>`
    // (float -0.0/NaN and collated strings would not)
    val byValue = types.forall {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType => true
      case t => t == StringType
    }
    val local = localRows(incoming).filter { case (out, _) =>
      byValue && names.forall(out.contains) }
    local match {
      case Some((out, data)) =>
        val ords = names.map(out.indexOf)
        val tuples = data.map(r => ords.zip(types).map { case (o, t) => r.get(o, t) })
        val vals = tuples.map(_.head)
        val member =
          if (tuples.isEmpty) lit(false)
          else if (keyCols.size > 1)
            // a struct is never NULL, and the struct in-set compares by
            // ordering, under which NULL fields are equal
            ec(InSet(ex(struct(keyCols.map(col): _*)),
              tuples.map(t => InternalRow.fromSeq(t): Any).toSet))
          else when(col(keyCols.head).isNull, lit(vals.contains(null)))
            .otherwise(ec(InSet(ex(col(keyCols.head)), vals.filter(_ != null).toSet)))
        val bounds =
          if (keyCols.size > 1 || vals.isEmpty || vals.contains(null)) None
          else {
            val ord: Ordering[Any] = types.head match {
              case StringType => Ordering.by((v: Any) =>
                v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
              case _ => Ordering.by((v: Any) => v.asInstanceOf[Number].longValue)
            }
            for (lo <- GraftTable.boundOf(vals.min(ord), types.head);
                 hi <- GraftTable.boundOf(vals.max(ord), types.head)) yield (lo, hi)
          }
        KeyMatch(_.filter(member), _.filter(!member), bounds)
      case None =>
        val keys = incoming.select(keyCols.map(c => col(c).as(s"__k_$c")): _*)
        val cond = keyCols.map(c => col(c) <=> col(s"__k_$c")).reduce(_ && _)
        val bounds =
          if (keyCols.size != 1) None
          else {
            import org.apache.spark.sql.functions.{max, min, sum}
            val k = col(keyCols.head)
            val r = incoming.agg(min(k), max(k),
              sum(when(k.isNull, 1L).otherwise(0L))).collect().head
            if (r.isNullAt(0) || r.getLong(2) > 0) None
            else Some((r.get(0), r.get(1)))
          }
        KeyMatch(_.join(keys, cond, "left_semi"), _.join(keys, cond, "left_anti"),
          bounds)
    }
  }

  /** The partition fields `sch` can derive (a spec column absent from
    * the frame being written cannot partition it). */
  private def specOver(sch: StructType,
      spec: Seq[PartitionField] = partitionSpec): Seq[PartitionField] =
    spec.filter(f => sch.fieldNames.contains(f.column))

  /** Stage step: write `df`, already distributed the way its caller
    * wants, into `out`. Under a non-empty `pspec` the partition values
    * derive with codegen'd expressions and Spark lays out one directory
    * per value; partitionBy DROPS the derived columns from the data
    * files (hidden partitioning: the source columns stay, the transform
    * is recomputable). Returns the written files, manifest-relative and
    * sorted. */
  private def writeStaged(df: DataFrame, out: Path,
      pspec: Seq[PartitionField] = Nil): Seq[String] = {
    if (pspec.isEmpty) df.write.parquet(out.toString)
    else pspec.foldLeft(df) { (d, f) =>
      d.withColumn(f.statName, f.expr(df.schema(f.column).dataType))
    }.write.partitionBy(pspec.map(_.statName): _*).parquet(out.toString)
    parquetFilesIn(out).map(p => dir.relativize(p).toString).sorted
  }

  /** Stats step for the files staged under `commitDir`: footer (or
    * aggregate) min/max for `cols`, then — when `pspec` is non-empty —
    * each file's partition path-stats for every spec era, typed by
    * `sch` (the staged frame's schema), then bloom sketches for
    * `bloomCols`. */
  private def stageStats(commitDir: Path, cols: Seq[String],
      pspec: Seq[PartitionField] = Nil, sch: StructType = StructType(Nil),
      bloomCols: Seq[String] = Nil): Map[String, FileStat] = {
    val stats = collectStats(commitDir, cols)
    val withPaths =
      if (pspec.isEmpty) stats
      else {
        val hist = partitionSpecHistory
        val dtOf = (c: String) => sch.fields.find(_.name == c).map(_.dataType)
        stats.map { case (rel, st) =>
          val (nm, sm) = Partitioning.pathStatEntries(rel, hist, dtOf)
          rel -> st.copy(
            numMin = st.numMin ++ nm, numMax = st.numMax ++ nm,
            strMin = st.strMin ++ sm, strMax = st.strMax ++ sm)
        }
      }
    mergeBlooms(commitDir, withPaths, bloomCols)
  }

  /** The stats step for a REWRITE commit, shared by every CoW DML path
    * (merge/delete/update/overwrite) and binpack: re-collect stats on
    * the rewritten files for the explicitly requested columns plus every
    * stat column the AFFECTED files carried (a rewrite must not
    * silently strip the pruning index its inputs had), and re-record
    * inherited bloom sketches (recomputed — bloom bytes cannot merge by
    * range). */
  private def rewriteStats(commitDir: Path, affected: Seq[String],
      sch: StructType, statsCols: Seq[String],
      pspec: Seq[PartitionField]): Map[String, FileStat] = {
    val prevStats = log.snapshots.flatMap(_.stats).toMap
    val inherited = affected.flatMap(f => prevStats.get(f).toSeq.flatMap(st =>
      st.numMin.keySet ++ st.strMin.keySet))
    val inheritedBlooms = affected.flatMap(f =>
      prevStats.get(f).toSeq.flatMap(_.blooms.keySet))
      .distinct.filter(sch.fieldNames.contains)
    stageStats(commitDir,
      (statsCols ++ inherited).distinct.filter(sch.fieldNames.contains),
      pspec, sch, inheritedBlooms)
  }

  /** Era-projected rewrite source: the `affected` files as of `head`,
    * each decoded under its own era and mapped to the CURRENT names
    * (rewrites normalize old eras as a side effect), with live
    * tombstones applied (era-grouped anti-joins/predicate filters), so
    * a rewritten file can never resurrect a merge-on-read-deleted row.
    * Under row lineage the rows also carry their id and sequence
    * columns, so survivors keep their identity. */
  private def rewriteSource(head: Snapshot, affected: Seq[String],
      sch: StructType, lineage: Boolean): DataFrame = {
    val snaps = log.snapshots
    val sidByRel = log.filesWithSnapOf(snaps, Some(head.snapshotId))
      .map { case (abs, sid) =>
        dir.relativize(Paths.get(abs)).toString -> sid }.toMap
    val fs = affected.map(f => dir.resolve(f).toString ->
      sidByRel.getOrElse(f, head.snapshotId))
    val dels = log.eqDeletesOf(snaps, Some(head.snapshotId))
    if (lineage) readWithLineage(fs, dels, sch, snaps)
    else readWithDeletes(fs, dels, sch, snaps)
  }

  /** Publish step: [[SnapshotLog.publish]], the one commit loop, for a
    * write on an existing table. Each attempt gets the fresh head and
    * stages a commit against it, or returns None: nothing to do at that
    * head, returned as `Left(head)`. The default `limit` is the one for
    * attempts that redo their Spark work on every lost race. */
  private def publish(what: String, limit: Int = SnapshotLog.RestageLimit)(
      attempt: Snapshot => Option[Staged]): Either[Snapshot, Snapshot] =
    log.publish(what, limit) { h =>
      val head = h.getOrElse(throw noSnapshots)
      attempt(head).toRight(head)
    }

  /** [[publish]] for a metadata commit that always lands: each lost
    * race only re-derives it from the new head and re-links. */
  private def relink(what: String)(attempt: Snapshot => Staged): Snapshot =
    publish(what, SnapshotLog.RelinkLimit)(h => Some(attempt(h))).merge

  /** Copy-on-write UPSERT (MERGE INTO by key): rows of `incoming`
    * replace current rows with the same `keyCols` tuple; unmatched
    * incoming rows insert. `incoming` must carry at most one row per
    * key (last-writer-wins among files is undefined otherwise — dedupe
    * with [[graft.operators.Dedup.keepLatest]] first).
    *
    * Only the files that actually CONTAIN a matching key are rewritten
    * (located with one key-projected probe scan); untouched files stay
    * byte-identical, so write amplification is proportional to the hit
    * set, not the table — the Iceberg copy-on-write MERGE shape. The
    * commit is conditional on the head observed at read time (same CAS
    * + retry discipline as [[compact]]); old files remain on disk for
    * time travel until their adding snapshot expires. Incremental
    * readers ([[changesSince]]) refuse to cross an upsert — a rewrite's
    * delta is not expressible as added rows — which routes replicas
    * onto their full-re-sync path. */
  def upsert(incoming: DataFrame, keyCols: Seq[String],
      statsCols: Seq[String] = Nil,
      properties: Map[String, String] = Map.empty): Snapshot =
    merge(incoming, keyCols,
      whenMatchedDelete = org.apache.spark.sql.functions.lit(false),
      statsCols = statsCols, properties = properties)

  /** Full conditional MERGE — [[upsert]] plus a when-matched-DELETE
    * arm, the CDC-apply shape a changelog consumer needs in ONE
    * commit: for each incoming row matching an existing key,
    * `whenMatchedDelete` (evaluated against the incoming row, e.g.
    * `col("_op") === "D"`) decides whether the stored row is DROPPED
    * (tombstone) or REPLACED; unmatched incoming rows INSERT unless
    * they are delete rows (a tombstone for an absent key is a no-op,
    * the idempotent at-least-once delivery case). `incoming` may
    * carry EXTRA columns (the changelog's op/metadata fields) used
    * only by the predicate — stored rows are projected to the table
    * schema, which every table column must match by name and type.
    *
    * Same scale/concurrency shape as [[upsert]] (it IS this method
    * with a never-true delete arm): one key-projected, stats-pruned
    * probe locates the files containing ANY incoming key — update
    * and delete targets alike — and only those are rewritten;
    * CAS-committed as a `merge` snapshot whose rewrite incremental
    * readers refuse to cross. NOTE tombstones are not persisted: a
    * later out-of-order version of a deleted key re-inserts it
    * (streaming consumers order batches via their own reorder guard,
    * see EventStreams.cdcApply). */
  /** @param whenNotMatchedBySourceDelete the MERGE `WHEN NOT MATCHED
    *   BY SOURCE THEN DELETE` arm (Delta/SQL:2023 shape), evaluated
    *   against the STORED row: target rows whose key appears in NO
    *   incoming row are dropped when the condition is TRUE — in the
    *   SAME single commit as the update/insert/matched-delete arms.
    *   `Some(lit(true))` is the full-snapshot-sync: one merge
    *   converges the target to exactly the source with no changelog.
    *   Files holding qualifying rows are located by the same probe
    *   discipline (they join the rewrite set); an unconditional arm
    *   inherently probes the whole table — that IS the semantics. */
  def merge(incoming: DataFrame, keyCols: Seq[String],
      whenMatchedDelete: org.apache.spark.sql.Column,
      statsCols: Seq[String] = Nil,
      properties: Map[String, String] = Map.empty,
      whenNotMatchedBySourceDelete: Option[org.apache.spark.sql.Column] = None)
      : Snapshot = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    // rows that UPSERT (insert-or-replace) vs rows that only tombstone;
    // NULL-evaluating predicates keep the row on the upsert side (SQL
    // WHEN-semantics: an arm fires only when its condition is TRUE)
    val delPred = coalesce(whenMatchedDelete, lit(false))
    val upserts = incoming.filter(!delPred)
    if (log.head.isEmpty) {
      // empty table: tombstones have nothing to match — pure insert
      // (callers merging a changelog with extra metadata columns should
      // create the table with its intended schema first; this path
      // keeps upsert's historical create-from-incoming behavior)
      return append(upserts, statsCols = statsCols, properties = properties)
    }
    // constraints gate the rows that LAND (tombstone rows only remove);
    // checked once up front — the retry loop re-reads state, not input
    enforceConstraints(upserts, "merge")
    // null-SAFE key matching: a NULL key must match its stored NULL
    // twin (plain equality would never match, so every upsert of a
    // NULL-keyed row would accumulate a duplicate). ALL incoming keys
    // participate — update and delete targets both locate files and
    // both evict the stored version; only upsert rows re-insert. Taken
    // once, after the first attempt's schema check.
    lazy val km = keyMatch(incoming, keyCols)
    // Live merge-on-read tombstones do NOT block a merge (the Iceberg
    // rewrite stance, since r13): the rewrite applies them to its
    // survivor selection below, so rewritten files carry no deleted
    // rows — and being committed AFTER every live delete they fall
    // outside every tombstone's era scope. Untouched files keep their
    // tombstones applying at read, era-correctly, until a compact
    // materializes table-wide. The O(1)-delete path no longer costs a
    // full-table compact before the next DML.
    publish(s"merge of $name") { base =>
      val expected = DataType.fromJson(base.schemaJson).asInstanceOf[StructType]
      val byName = incoming.schema.fields.map(f => f.name -> f.dataType).toMap
      expected.fields.foreach { f =>
        require(byName.get(f.name).contains(f.dataType),
          s"merge schema mismatch for $name: table column ${f.name}: " +
            s"${f.dataType} absent or mistyped in incoming ${incoming.schema}")
      }
      // probe: which current files hold a matching key? Manifest stats
      // prune non-intersecting files first (single-key tables clustered
      // on the key skip most of a 100 TB table before any scan); the
      // scan itself is key-projected, and file paths come back as a
      // bounded driver list.
      val probeSrc = km.bounds match {
        case Some((lo, hi)) => readWhereAllImpl(Seq((keyCols.head, Some(lo), Some(hi))),
          Some(base.snapshotId), Some("__f"))
        case None => readTagged(Some(base.snapshotId), "__f")
      }
      val keyHitFiles = affectedFiles(km.hit(probeSrc
        .select(keyCols.map(col) :+ col("__f"): _*)))
      // the not-matched-by-source arm adds every file holding a stored
      // row with NO incoming key that satisfies its condition — those
      // rows must be dropped, so their files join the rewrite set (an
      // unconditional arm probes the whole table: that IS full-sync)
      val nmsFiles = whenNotMatchedBySourceDelete match {
        case None => Nil
        case Some(c) =>
          affectedFiles(km.miss(readTagged(Some(base.snapshotId), "__f"))
            .filter(coalesce(c, lit(false))))
      }
      val affected = (keyHitFiles ++ nmsFiles).distinct.sorted
      val commitDir = newCommitDir('u')
      // row lineage (the v3 MERGE contract): carried-along survivors
      // AND matched updates keep their identity — the rewrite reads
      // every affected row's id, matched incoming rows inherit the
      // stored row's id (min over duplicate-keyed stored rows), and
      // only genuine INSERTS mint fresh ids from the counter
      val lineage = rowLineageEnabled(Some(base.snapshotId))
      val next0 =
        if (lineage) SnapshotLog.rowIdNextOf(log.snapshots).get else 0L
      // no affected file reads as the empty frame (with the lineage
      // columns under lineage): every incoming row then inserts
      val srcAll = rewriteSource(base, affected,
        schemaAsOf(Some(base.snapshotId)), lineage)
      val survivors0 = km.miss(srcAll)
      // not-matched-by-source deletes: unmatched stored rows whose arm
      // condition is TRUE are dropped (NULL keeps, SQL WHEN-semantics)
      val survivors = whenNotMatchedBySourceDelete match {
        case None => survivors0
        case Some(c) => survivors0.filter(!coalesce(c, lit(false)))
      }
      val upsertsW =
        if (!lineage) upserts
        else {
          import org.apache.spark.sql.functions.{count => fcount, lit => flit, min => fmin}
          // duplicate-keyed INCOMING rows are documented-undefined for
          // content, but under lineage they would both inherit the
          // stored row's id — breaking the table-level id-uniqueness
          // invariant for every future reader. Refuse loudly instead
          // (one bounded aggregation over the incoming batch).
          val dup = upserts.groupBy(keyCols.map(col): _*)
            .agg(fcount(flit(1)).as("__n")).filter(col("__n") > 1).count()
          require(dup == 0, s"merge into $name under row lineage: " +
            s"$dup incoming key(s) appear more than once — identities " +
            "would duplicate; dedupe the batch first")
          // stored id per matched key (one row per incoming key; min
          // disambiguates duplicate-keyed stored rows)
          val idByKey = km.hit(srcAll)
            .groupBy(keyCols.map(col): _*)
            .agg(fmin(col(GraftTable.RowIdCol)).as("__mid"))
            .select(keyCols.map(c => col(c).as(s"__mk_$c")) :+ col("__mid"): _*)
          val mCond = keyCols.map(c => col(c) <=> col(s"__mk_$c")).reduce(_ && _)
          val joined = upserts.join(idByKey, mCond, "left")
            .drop(keyCols.map(c => s"__mk_$c"): _*)
          // genuine inserts mint dense fresh ids [next0, next0+count)
          // — distributed zipWithIndex, no single-partition window.
          // Matched AND minted rows get this commit's seq (base+1
          // under the CAS guard): both are row changes by definition
          joined.filter(col("__mid").isNotNull)
            .withColumn(GraftTable.RowIdCol, col("__mid")).drop("__mid")
            .unionByName(withMintedIds(
              joined.filter(col("__mid").isNull).drop("__mid"), next0))
            .withColumn(GraftTable.RowSeqCol, lit(base.snapshotId + 1))
        }
      val rewritten =
        survivors.unionByName(upsertsW.select(survivors.columns.map(col): _*))
      // the table's partition spec survives the rewrite (same rule as
      // compact): rewritten rows re-land one-partition-value-per-file,
      // so point pruning doesn't decay under DML
      val pspec = specOver(rewritten.schema)
      val files = writeStaged(rewritten, commitDir, pspec)
      val stats = rewriteStats(commitDir, affected, expected, statsCols, pspec)
      // record the merge keys so changeFeed can pair this commit's
      // delete+insert rows into update pre/post images; ours second
      // so a colliding caller property cannot shadow the real keys
      val props0 =
        if (keyCols.exists(_.contains(","))) properties
        else properties + (GraftTable.DmlKeysKey -> keyCols.mkString(","))
      val props =
        if (!lineage) props0
        else props0 ++ lineageCommitProps(files, next0)
      Some(Staged("merge", files, base.schemaJson, stats, removed = affected,
        properties = props, commitDir = Some(commitDir)))
    }.merge
  }

  /** Copy-on-write DELETE: remove rows matching `cond`. Same
    * file-targeted rewrite + conditional commit as [[upsert]]; files
    * with no matching row are untouched. */
  /** Multi-pass DML evaluates `cond` more than once (file probe,
    * constraint gate, rewrite select) — a nondeterministic predicate
    * would select INCONSISTENT row sets between the passes and could
    * commit rows the constraint check never saw. Same gate as
    * [[deleteWhereMor]]; shared by update/delete/overwrite. */
  private def requireDeterministicCond(cond: org.apache.spark.sql.Column,
      op: String): Unit =
    emptyDf(schema).filter(cond).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        require(f.condition.deterministic,
          s"$op on $name requires a deterministic predicate")
    }

  def deleteWhere(cond: org.apache.spark.sql.Column): Snapshot = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    requireDeterministicCond(cond, "deleteWhere")
    // live tombstones don't block (see merge): they apply to the
    // survivor read and keep applying to untouched files
    rewriteWhere(cond, "delete", 'd', _ => Map.empty) {
      // SQL DELETE semantics: remove only rows where cond is TRUE. A
      // bare `!cond` would also drop NULL-evaluating rows (NULL
      // satisfies neither side) — silent data loss.
      (src, _, _, _) => src.filter(!coalesce(cond, lit(false)))
    }
  }

  /** The copy-on-write rewrite [[deleteWhere]] and [[updateWhere]]
    * share: probe the files holding a `cond` row (stats-pruned), read
    * them era-projected with live tombstones applied
    * ([[rewriteSource]]), re-land `transform(source, head, schema,
    * lineage)` under the table's partition spec, and publish one CAS
    * commit that removes the affected files. No affected file: no
    * commit, the head read stands. The commit carries `properties` of
    * the head's schema, plus the physical-ids flag under row lineage. */
  private def rewriteWhere(cond: org.apache.spark.sql.Column,
      operation: String, letter: Char,
      properties: StructType => Map[String, String])(
      transform: (DataFrame, Snapshot, StructType, Boolean) => DataFrame)
      : Snapshot =
    publish(s"$operation of $name") { head =>
      val sch = schemaAsOf(Some(head.snapshotId))
      val affected = affectedFiles(
        probeTagged(cond, head.snapshotId, sch).filter(cond))
      if (affected.isEmpty) None // nothing matches: no-op
      else {
        val commitDir = newCommitDir(letter)
        val lineage = rowLineageEnabled(Some(head.snapshotId))
        val rows = transform(rewriteSource(head, affected, sch, lineage),
          head, sch, lineage)
        // the spec survives the rewrite, same as merge/compact
        val pspec = specOver(sch)
        val files = writeStaged(rows, commitDir, pspec)
        // same stat-column and bloom inheritance as merge: the rewrite
        // keeps the pruning stats its source files carried (rewritten
        // columns recompute from the new bytes like any write)
        val stats = rewriteStats(commitDir, affected, sch, Nil, pspec)
        Some(Staged(operation, files, head.schemaJson, stats,
          removed = affected, commitDir = Some(commitDir),
          properties = properties(sch) ++
            (if (lineage) Map(SnapshotLog.RowIdMaterializedKey -> "1")
             else Map.empty)))
      }
    }.merge

  /** Copy-on-write UPDATE (SQL `UPDATE t SET c = expr WHERE cond`, the
    * Delta/Iceberg update shape): rows where `cond` is TRUE get every
    * assignment in `set` applied; NULL/false rows are untouched. Same
    * file-targeted rewrite as [[deleteWhere]]: the stats-era probe
    * finds affected files, ONLY those are rewritten (era-projected,
    * live tombstones applied), untouched files keep their bytes and
    * their pruning stats. Assignment semantics:
    *
    *  - every assignment sees the PRE-image row — `SET a = b, b = a`
    *    swaps, it does not chain (the SQL standard's simultaneous
    *    assignment);
    *  - each expression is cast to its column's DECLARED type, so an
    *    update cannot smuggle a type change past [[widenColumn]];
    *  - CHECK constraints are enforced on the POST-image of updated
    *    rows before anything commits (survivors re-land unchanged and
    *    were admitted by their original write);
    *  - an update of a PARTITION column moves rows to their new
    *    partition directories in the same commit (hidden partitioning
    *    recomputes from the new value).
    *
    * The commit records the non-assigned columns as pairing keys, so
    * [[changeFeed]] reports the rewrite as `update_preimage` /
    * `update_postimage` row pairs (pre and post share every column the
    * SET did not touch) rather than bare delete+insert. Incremental
    * readers treat it as a rewrite ([[changesSince]] refuses across
    * it; Mirror escalates to diff) — rows changed in place. CAS +
    * re-probe when the head moves, like every CoW DML. */
  def updateWhere(cond: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Snapshot = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when => fwhen}
    require(set.nonEmpty, s"update on $name: empty SET clause")
    requireDeterministicCond(cond, "updateWhere")
    val sch0 = schema
    set.keys.foreach(k => require(sch0.fieldNames.contains(k),
      s"update on $name: SET column '$k' is not a table column"))
    // pre and post images share every NON-assigned column — record
    // them so changeFeed pairs this commit into update pre/post rows
    def pairing(sch: StructType): Map[String, String] = {
      val pairKeys = sch.fieldNames.toSeq.filterNot(set.contains)
      if (pairKeys.isEmpty || pairKeys.exists(_.contains(","))) Map.empty
      else Map(GraftTable.DmlKeysKey -> pairKeys.mkString(","))
    }
    // row lineage: an UPDATE preserves row identity — the pre-image's
    // id rides through the assignment select into the rewrite
    rewriteWhere(cond, "update", 'u', pairing) {
      (src, head, sch, lineage) =>
        // one select, every branch reading INPUT columns: assignments
        // cannot observe each other, and `cond` is evaluated on the
        // pre-image (a SET that flips its own predicate still applies)
        val hit = coalesce(cond, lit(false))
        // lineage: hit rows keep their id and BUMP their seq to this
        // commit (head+1 under the CAS guard); carried survivors keep both
        def postImage(d: DataFrame): DataFrame = d.select(sch.fields.toSeq.map { f =>
          set.get(f.name) match {
            case Some(e) => fwhen(hit, e.cast(f.dataType))
              .otherwise(col(f.name)).as(f.name)
            case None => col(f.name)
          }
        } ++ (if (lineage) Seq(col(GraftTable.RowIdCol),
          fwhen(hit, lit(head.snapshotId + 1))
            .otherwise(col(GraftTable.RowSeqCol)).as(GraftTable.RowSeqCol))
        else Nil): _*)
        // constraints gate the post-image of the rows the update TOUCHES;
        // one bounded agg over affected files, before any bytes land
        enforceConstraints(postImage(src.filter(hit)), "update")
        postImage(src)
    }
  }

  /** Predicate-scoped atomic OVERWRITE (Delta's `replaceWhere` /
    * Iceberg's overwrite-by-filter — the backfill primitive: "replace
    * March with this recomputed March"): ONE commit removes every row
    * matching `cond` and inserts `df`, so readers see either the old
    * slice or the new one, never a gap or a mix. Equivalent to
    * deleteWhere(cond) + append(df) EXCEPT atomicity — the two-commit
    * sequence exposes a no-March state between them and lets a
    * concurrent reader's changesSince straddle the hole.
    *
    * Every incoming row must satisfy `cond` (validated before any
    * write, like Delta): an overwrite that smuggles rows OUTSIDE the
    * replaced region would silently duplicate data the predicate did
    * not remove. `cond` must be deterministic (it is evaluated against
    * both the table and `df`). File-level plan: stats-pruned probe
    * finds affected files, survivors (cond-false rows of those files)
    * are rewritten era-projected, `df` lands as fresh files — files
    * with no matching rows are NOT touched, so a partition-aligned
    * overwrite rewrites nothing but the target slice. Live tombstones
    * fold into the rewrite like every CoW DML; the new rows commit
    * after them and are immune by sequence. CAS + re-probe on head
    * races. Incremental readers treat the commit as a rewrite
    * (changesSince refuses across it — rows were replaced). */
  def overwriteWhere(cond: org.apache.spark.sql.Column,
      df: DataFrame): Snapshot = overwriteWhereImpl(cond, df, None)

  /** (probed files, visible files) of the last [[overwriteWhere]] /
    * [[overwritePartitions]] probe on THIS handle — the witness that a
    * partition-aligned overwrite planned sub-full-scan. None until a
    * pruned probe ran. */
  @volatile var lastOverwriteProbe: Option[(Long, Long)] = None

  /** Expression-tree DEPTH of the last [[overwritePartitions]] region
    * predicate on THIS handle — the bounded-plan witness that a
    * many-partition dynamic overwrite builds a flat struct-isin
    * (constant depth), never a tuple-count-deep OR chain. */
  @volatile private[graft] var lastOverwriteCondDepth: Option[Int] = None

  /** @param pruneFiles manifest-stat prefilter for the affected-file
    *   probe: given the visible (absPath, addingSid) list, returns the
    *   candidate subset that could hold a `cond` row. MUST be
    *   conservative (keep on unknown) — dropped files are never
    *   probed. [[overwritePartitions]] passes the partition-tuple
    *   prune so a two-partition backfill probes two partitions, not
    *   the table. */
  private def overwriteWhereImpl(cond: org.apache.spark.sql.Column,
      df: DataFrame,
      pruneFiles: Option[Seq[(String, Long)] => Seq[(String, Long)]])
      : Snapshot = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val sch0 = schema
    require(compatible(sch0, df.schema),
      s"overwrite schema mismatch for $name:\n expected $sch0\n got ${df.schema}")
    requireDeterministicCond(cond, "overwriteWhere")
    // replaceWhere constraint: every incoming row must be INSIDE the
    // replaced region — checked before any file is written
    require(df.filter(!coalesce(cond, lit(false))).isEmpty,
      s"overwriteWhere on $name: incoming rows violate the predicate " +
        "(every replacement row must satisfy the overwrite condition)")
    enforceConstraints(df, "overwrite")
    publish(s"overwrite of $name") { head =>
      val sch = schemaAsOf(Some(head.snapshotId))
      val probeSrc = pruneFiles match {
        // no partition-tuple hint: still stats-prune by the predicate's
        // sargable conjuncts (a range overwrite on a clustered column
        // probes the intersecting files, not the table)
        case None => probeTagged(cond, head.snapshotId, sch)
        case Some(pf) =>
          val snapsP = log.snapshots
          val all = log.filesWithSnapOf(snapsP, Some(head.snapshotId))
          val kept = pf(all)
          lastOverwriteProbe = Some((kept.size.toLong, all.size.toLong))
          readWithDeletes(kept,
            log.eqDeletesOf(snapsP, Some(head.snapshotId)),
            schemaAsOfIn(snapsP, Some(head.snapshotId)), snapsP, Some("__f"))
      }
      val affected = affectedFiles(probeSrc.filter(cond))
      val commitDir = newCommitDir('w')
      val pspec = specOver(sch)
      // row lineage: the replaced REGION's identity dies with it, but
      // survivor rows of affected files are OUTSIDE the region — they
      // must keep their ids (the property test caught the file-level
      // re-mint), so survivors ride the lineage read and incoming rows
      // mint dense fresh ids
      val lineage = rowLineageEnabled(Some(head.snapshotId))
      val next0 =
        if (lineage) SnapshotLog.rowIdNextOf(log.snapshots).get else 0L
      val kept =
        if (affected.isEmpty) Nil
        else writeStaged(rewriteSource(head, affected, sch, lineage)
          .filter(!coalesce(cond, lit(false))), commitDir.resolve("keep"), pspec)
      // the replaced region is NEW identity: fresh ids, this commit's seq
      val landed = writeStaged(if (lineage) withMintedIds(df, next0)
        .withColumn(GraftTable.RowSeqCol, lit(head.snapshotId + 1))
      else df, commitDir.resolve("new"), pspec)
      val files = (kept ++ landed).sorted
      // survivors + new rows inherit the affected files' stat/bloom
      // columns, same as deleteWhere/merge — pruning must not degrade
      val stats = rewriteStats(commitDir, affected, sch, Nil, pspec)
      Some(Staged("overwrite", files, head.schemaJson, stats,
        removed = affected, commitDir = Some(commitDir),
        properties =
          if (lineage) lineageCommitProps(files, next0) else Map.empty))
    }.merge
  }

  /** DYNAMIC partition overwrite (Spark's
    * `partitionOverwriteMode=dynamic` / Iceberg's
    * `overwritePartitions`): atomically replace exactly the partitions
    * the incoming rows land in — the daily-backfill shape where the
    * caller re-computes some partitions and must not name them by
    * hand. The replaced region is DERIVED: one aggregate computes the
    * incoming rows' distinct partition-transform tuples (bounded
    * driver list — O(partitions touched), never O(rows)), and the
    * overwrite delegates to [[overwriteWhere]] with a flat struct-isin
    * over those tuples (constant plan depth — see the witness
    * [[lastOverwriteCondDepth]]), inheriting its atomicity (readers see old-or-new,
    * never a gap), its incoming-inside-region validation (trivially
    * satisfied by construction), CAS retry, and file surgery (files
    * wholly outside the touched partitions are never rewritten —
    * partition-clustered layouts rewrite only the target slice).
    * Transform-aware: a `month(ts)` spec replaces MONTHS, not raw
    * timestamp values. Refuses on an unpartitioned table (the whole
    * table would silently become the region — callers who mean that
    * say [[replace]]) and on zero incoming rows (replacing nothing is
    * almost always a bug upstream, not a no-op to swallow). */
  def overwritePartitions(df: DataFrame): Snapshot = {
    import org.apache.spark.sql.functions.lit
    val sch = schema
    require(compatible(sch, df.schema),
      s"overwrite schema mismatch for $name:\n expected $sch\n got ${df.schema}")
    val pspec = partitionSpec.filter(f => sch.fieldNames.contains(f.column))
    require(pspec.nonEmpty,
      s"overwritePartitions on $name: table has no partition spec — " +
        "use replace() for a whole-table overwrite or overwriteWhere() " +
        "for an explicit region")
    val tupleCols = pspec.map(f => f.expr(sch(f.column).dataType).as(f.statName))
    val tupleDf = df.select(tupleCols: _*)
    // the transforms' OUTPUT types (month(ts) → int), read from the
    // projection schema — the literal tuples below must carry them
    // exactly or the In type check refuses (and a NULL tuple value
    // would otherwise degrade to an untyped NullType literal)
    val ttypes = tupleDf.schema.fields.map(_.dataType)
    val tuples = tupleDf.distinct().collect()
    require(tuples.nonEmpty,
      s"overwritePartitions on $name: zero incoming rows would replace " +
        "nothing — refusing (an upstream bug reads better than a silent " +
        "no-op)")
    // region predicate as ONE struct-isin, not a per-tuple OR chain:
    // a 500-partition backfill's plan stays CONSTANT-depth (In with N
    // flat children, which Catalyst folds to an InSet hash probe past
    // the conversion threshold) where the disjunction nested 500 Or
    // nodes deep — quadratic transform cost and a stack-overflow risk
    // exactly when dynamic overwrite is most useful. Struct equality
    // compares fields through the null-safe ordering, preserving the
    // old `<=>` semantics for NULL partition values.
    def tupleStruct(fields: Seq[org.apache.spark.sql.Column])
        : org.apache.spark.sql.Column =
      org.apache.spark.sql.functions.struct(
        fields.zipWithIndex.map { case (c, i) => c.as(s"p$i") }: _*)
    val probeCol = tupleStruct(pspec.map(f => f.expr(sch(f.column).dataType)))
    val litTuples = tuples.toSeq.map { row =>
      tupleStruct(pspec.indices.map(i =>
        lit(row.get(i)).cast(ttypes(i))))
    }
    val cond = probeCol.isin(litTuples: _*)
    lastOverwriteCondDepth = Some(GraftTable.exprDepth(
      org.apache.spark.sql.GraftColumnBridge.expression(cond)))
    // manifest-stat probe prune: partitioned files carry their
    // partition value as a point-range stat (min==max under the
    // spec-versioned statName), so the affected-file probe reads ONLY
    // files whose recorded value is one of the incoming tuples — a
    // two-partition backfill on a 100-TB table probes two partitions,
    // not the table. Conservative on unknowns: files without the stat
    // (pre-spec eras, foreign layouts) and NULL-valued tuples keep
    // every candidate.
    val prune: Seq[(String, Long)] => Seq[(String, Long)] = { files =>
      val statsByFile = log.snapshots.flatMap(_.stats).toMap
      files.filter { case (abs, _) =>
        statsByFile.get(dir.relativize(Paths.get(abs)).toString) match {
          case None => true
          case Some(st) => tuples.exists { row =>
            pspec.indices.forall { i =>
              row.get(i) == null ||
                st.mayContain(pspec(i).statName,
                  Some(row.get(i)), Some(row.get(i)))
            }
          }
        }
      }
    }
    overwriteWhereImpl(cond, df, Some(prune))
  }

  /** Per-file min/max for `cols`, keyed by manifest-relative path.
    * Served from the just-written files' parquet FOOTERS — the writer
    * already recorded exact per-column-chunk min/max, so commit-time
    * stats need no Spark job and no second read of the data (every
    * stats-recording commit previously paid a full aggregate scan of
    * what it had just written). Falls back to that aggregate job only
    * when a footer can't be mapped faithfully ([[footerColumnStats]]
    * returns None). */
  private def collectStats(commitDir: Path, cols: Seq[String]): Map[String, FileStat] = {
    import org.apache.spark.sql.functions.{col, count, input_file_name, lit, max, min}
    if (cols.isEmpty) return footerStats(commitDir)
    footerColumnStats(parquetFilesIn(commitDir), cols) match {
      case Some(m) => return m
      case None => // unmappable type/stat — pay the aggregate pass below
    }
    // explicit files, not the dir — see mergeBlooms' subdirectory note
    val written = spark.read
      .parquet(parquetFilesIn(commitDir).map(_.toString): _*)
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"__mn_$c"), max(col(c)).as(s"__mx_$c"))) :+
      count(lit(1)).as("__rows")
    val rows = written.groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val byFile = rows.map { r =>
      val rel = relOfUri(r.getAs[String]("__f"))
      var numMin = Map.empty[String, Double]; var numMax = Map.empty[String, Double]
      var strMin = Map.empty[String, String]; var strMax = Map.empty[String, String]
      cols.foreach { c =>
        (r.getAs[Any](s"__mn_$c"), r.getAs[Any](s"__mx_$c")) match {
          case (null, _) | (_, null) => ()
          case (mn: Number, mx: Number) =>
            // directional rounding: stats may only widen the true range
            numMin += c -> FileStat.dirDouble(mn, up = false)
            numMax += c -> FileStat.dirDouble(mx, up = true)
          case (mn: java.sql.Timestamp, mx: java.sql.Timestamp) =>
            numMin += c -> mn.getTime.toDouble; numMax += c -> mx.getTime.toDouble
          // TIMESTAMP_NTZ surfaces as LocalDateTime (the current testdata's
          // type); record epoch-millis-at-UTC to stay unit-compatible with
          // the Timestamp case so mayContain compares like with like
          case (mn: java.time.LocalDateTime, mx: java.time.LocalDateTime) =>
            numMin += c -> mn.toInstant(java.time.ZoneOffset.UTC).toEpochMilli.toDouble
            numMax += c -> mx.toInstant(java.time.ZoneOffset.UTC).toEpochMilli.toDouble
          case (mn: java.time.Instant, mx: java.time.Instant) =>
            numMin += c -> mn.toEpochMilli.toDouble
            numMax += c -> mx.toEpochMilli.toDouble
          // invalid UTF-8 decodes lossily to U+FFFD, which may sort
          // inside the real bytes: such a bound leaves c unbounded
          case (mn, mx) if !s"$mn$mx".contains('\uFFFD') =>
            strMin += c -> mn.toString; strMax += c -> mx.toString
          case _ => ()
        }
      }
      rel -> FileStat(numMin, numMax, strMin, strMax,
        rows = r.getAs[Long]("__rows"),
        bytes = scala.util.Try(Files.size(dir.resolve(rel))).getOrElse(-1L))
    }.toMap
    // a ZERO-row file (a rewrite that emptied its partition) produces no
    // aggregate group, so it would silently get NO stats entry — and
    // metaCount would read the whole commit as unknowable; backfill the
    // missing files from their footers (rows = 0)
    val missing = parquetFilesIn(commitDir)
      .filterNot(p => byFile.contains(dir.relativize(p).toString))
    byFile ++ footerStatsFor(missing)
  }

  /** Row-count-only stats from parquet FOOTERS — no Spark job, no data
    * pages read; O(files) driver-side metadata probes. Every commit
    * path records at least this, so [[metaCount]] stays answerable on
    * tables that never asked for column stats. A footer that fails to
    * parse records −1 (unknown) rather than failing the commit. */
  private def footerStats(commitDir: Path): Map[String, FileStat] =
    footerStatsFor(parquetFilesIn(commitDir))

  /** Footer-derived per-file column stats: maps each wanted column's
    * parquet footer min/max onto the exact representation the pruning
    * consumer ([[FileStat.mayContain]]) expects — numbers via
    * [[FileStat.dirDouble]], strings as UTF-8-byte-ordered bounds
    * (parquet's own binary stat order IS cmpUtf8's), timestamps
    * normalized to epoch millis (min floored, max ceiled: bounds only
    * widen), dates/booleans rendered as the same ISO/true-false
    * strings the aggregate path recorded. All-null chunks contribute
    * nothing; any OTHER chunk without bounds (parquet drops them for a
    * float/double chunk holding a NaN) makes the column unbounded for
    * the file — its bounds must never narrow past a value — and a
    * column with no surviving bound is simply absent (conservative:
    * unknown ⇒ match). Returns None — caller falls back to the
    * aggregate job — when any wanted column carries a physical/logical
    * type outside this table, or a footer without statistics. */
  private def footerColumnStats(paths: Seq[Path], cols: Seq[String])
      : Option[Map[String, FileStat]] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val conf = spark.sparkContext.hadoopConfiguration
    val out = Map.newBuilder[String, FileStat]
    paths.foreach { p =>
      try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toUri), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val blocks = r.getFooter.getBlocks.asScala
          var numMin = Map.empty[String, Double]
          var numMax = Map.empty[String, Double]
          var strMin = Map.empty[String, String]
          var strMax = Map.empty[String, String]
          cols.foreach { c =>
            var nMn: Option[Double] = None; var nMx: Option[Double] = None
            var sMn: Option[String] = None; var sMx: Option[String] = None
            var unbounded = false
            blocks.foreach { b =>
              val cc = b.getColumns.asScala
                .find(_.getPath.toDotString == c)
                .getOrElse(return None) // column absent from the footer
              val st = cc.getStatistics
              if (st == null) return None
              if (!st.hasNonNullValue) {
                if (st.getNumNulls != b.getRowCount) unbounded = true
              } else {
                val pt = cc.getPrimitiveType
                val la = pt.getLogicalTypeAnnotation
                def mergeNum(mn: Double, mx: Double): Unit = {
                  nMn = Some(nMn.fold(mn)(math.min(_, mn)))
                  nMx = Some(nMx.fold(mx)(math.max(_, mx)))
                }
                def mergeStr(mn: String, mx: String): Unit = {
                  sMn = Some(sMn.filter(FileStat.cmpUtf8(_, mn) <= 0)
                    .getOrElse(mn))
                  sMx = Some(sMx.filter(FileStat.cmpUtf8(_, mx) >= 0)
                    .getOrElse(mx))
                }
                (pt.getPrimitiveTypeName, la) match {
                  case (INT64, ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation) =>
                    if (ts.getUnit !=
                        LogicalTypeAnnotation.TimeUnit.MICROS) return None
                    val mn = st.genericGetMin.asInstanceOf[java.lang.Long]
                    val mx = st.genericGetMax.asInstanceOf[java.lang.Long]
                    // stats are epoch MILLIS (the aggregate path's
                    // unit); floor the min, ceil the max so the
                    // recorded range only widens
                    mergeNum(Math.floorDiv(mn, 1000L).toDouble,
                      (-Math.floorDiv(-mx, 1000L)).toDouble)
                  case (INT64, null) =>
                    mergeNum(
                      FileStat.dirDouble(
                        st.genericGetMin.asInstanceOf[java.lang.Long], up = false),
                      FileStat.dirDouble(
                        st.genericGetMax.asInstanceOf[java.lang.Long], up = true))
                  case (INT64, i: LogicalTypeAnnotation.IntLogicalTypeAnnotation)
                      if i.isSigned =>
                    mergeNum(
                      FileStat.dirDouble(
                        st.genericGetMin.asInstanceOf[java.lang.Long], up = false),
                      FileStat.dirDouble(
                        st.genericGetMax.asInstanceOf[java.lang.Long], up = true))
                  case (INT32, _: LogicalTypeAnnotation.DateLogicalTypeAnnotation) =>
                    // the aggregate path recorded java.sql.Date.toString
                    // (ISO yyyy-MM-dd) as STRING bounds — match it
                    mergeStr(
                      java.time.LocalDate.ofEpochDay(
                        st.genericGetMin.asInstanceOf[java.lang.Integer]
                          .longValue).toString,
                      java.time.LocalDate.ofEpochDay(
                        st.genericGetMax.asInstanceOf[java.lang.Integer]
                          .longValue).toString)
                  case (INT32, null) =>
                    mergeNum(
                      st.genericGetMin.asInstanceOf[java.lang.Integer].toDouble,
                      st.genericGetMax.asInstanceOf[java.lang.Integer].toDouble)
                  case (INT32, i: LogicalTypeAnnotation.IntLogicalTypeAnnotation)
                      if i.isSigned =>
                    mergeNum(
                      st.genericGetMin.asInstanceOf[java.lang.Integer].toDouble,
                      st.genericGetMax.asInstanceOf[java.lang.Integer].toDouble)
                  case (DOUBLE, _) =>
                    mergeNum(st.genericGetMin.asInstanceOf[java.lang.Double],
                      st.genericGetMax.asInstanceOf[java.lang.Double])
                  case (FLOAT, _) =>
                    mergeNum(
                      st.genericGetMin.asInstanceOf[java.lang.Float].toDouble,
                      st.genericGetMax.asInstanceOf[java.lang.Float].toDouble)
                  case (BINARY, _: LogicalTypeAnnotation.StringLogicalTypeAnnotation) =>
                    // parquet may truncate long binary bounds, but only
                    // outward — still a sound (wider) range. A bound
                    // that is not valid UTF-8 decodes lossily (U+FFFD)
                    // and may sort inside the real bytes: unbounded
                    import java.nio.charset.StandardCharsets.UTF_8
                    def utf8(b: Array[Byte]): Option[String] =
                      Some(new String(b, UTF_8))
                        .filter(t => java.util.Arrays.equals(t.getBytes(UTF_8), b))
                    (utf8(st.getMinBytes), utf8(st.getMaxBytes)) match {
                      case (Some(mn), Some(mx)) => mergeStr(mn, mx)
                      case _ => unbounded = true
                    }
                  case (BOOLEAN, _) =>
                    mergeStr(st.genericGetMin.toString, st.genericGetMax.toString)
                  case _ => return None // decimal/int96/unsigned/binary-raw
                }
              }
            }
            if (!unbounded) {
              nMn.foreach(v => numMin += c -> v); nMx.foreach(v => numMax += c -> v)
              sMn.foreach(v => strMin += c -> v); sMx.foreach(v => strMax += c -> v)
            }
          }
          out += dir.relativize(p).toString -> FileStat(
            numMin, numMax, strMin, strMax,
            rows = r.getRecordCount,
            bytes = scala.util.Try(Files.size(p)).getOrElse(-1L))
        } finally r.close()
      } catch { case scala.util.control.NonFatal(_) => return None }
    }
    Some(out.result())
  }

  private def footerStatsFor(paths: Seq[Path]): Map[String, FileStat] = {
    val conf = spark.sparkContext.hadoopConfiguration
    paths.map { p =>
      val n = try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toUri), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      } catch { case scala.util.control.NonFatal(_) => -1L }
      dir.relativize(p).toString ->
        FileStat(Map.empty, Map.empty, Map.empty, Map.empty, rows = n,
          bytes = scala.util.Try(Files.size(p)).getOrElse(-1L))
    }.toMap
  }

  /** Transactionally REPLACE the table's contents with `df` (which may
    * change the schema): data files are written first, then one CAS
    * commit swaps the visible file set — readers observe either the
    * old table or the new one, never a gap, and a crash mid-write
    * leaves only orphan files with the old head intact. This is the
    * atomic form of drop-and-recreate (the mirror's changelog apply
    * uses it; a drop+create leaves the replica missing between the
    * two steps and strands staged data on a crash). Commits as a
    * `replace` snapshot: [[changesSince]] refuses to cross it (rows
    * were rewritten — `removedFiles` covers the whole prior set) and
    * [[diff]] resolves it like any rewrite; prior snapshots stay
    * time-travelable until expiry. */
  /** `declareSpec`, when set, REDECLARES the table's partition spec as
    * part of this replacement (the RTAS `PARTITIONED BY` shape). The
    * staged write lays files out under the NEW spec, but the spec
    * itself is declared only AFTER the payload has fully materialized
    * — a failed replacement (bad query, constraint violation, write
    * error) must leave the table's spec unchanged, the same
    * validate-before-first-commit discipline as AlterColumns.
    * Declared before stats collection so the new fields' partition-path
    * entries land in this commit's manifest (readers probe spec-history
    * eras — files must never record entries for an undeclared era). */
  /** `keepSchema` distinguishes the two replace SHAPES: an RTAS
    * REDEFINES the table, so the committed schema is the payload's
    * (default); a DML-shaped overwrite (SQL `INSERT OVERWRITE`)
    * CONFORMS to the table, so the table's declared schema — field
    * ids, column defaults, nullability — must survive the commit
    * byte-identically (a VALUES payload's inferred schema is
    * metadata-stripped and non-nullable; committing it would erase
    * the v3 default pair and every field id). */
  def replace(df: DataFrame, statsCols: Seq[String] = Nil,
      properties: Map[String, String] = Map.empty,
      declareSpec: Option[Seq[PartitionField]] = None,
      keepSchema: Boolean = false): Snapshot = {
    declareSpec.foreach(_.foreach(f =>
      require(df.schema.fieldNames.contains(f.column),
        s"replace of $name: partition column '${f.column}' is not in " +
          "the replacement's schema")))
    enforceConstraints(df, "replace")
    var specDeclared = false
    // a terminal failure AFTER the spec declaration (stats collection,
    // 20 lost CAS attempts) must not leave the new spec durably current
    // with no replacement data — the compensator RE-DECLARES the prior
    // spec (append-only, race-safe: a concurrent writer that already
    // recorded entries for the new era keeps a probed history line,
    // unlike a delete of the version file would)
    val prevSpec = partitionSpec
    try publish(s"replace of $name") { base =>
      val removed = log.dataFiles(Some(base.snapshotId))
        .map(f => dir.relativize(Paths.get(f)).toString).sorted
      val commitDir = newCommitDir('r')
      // same spec-preservation rule as append/merge/compact: a rebuild
      // (mirror changelog apply, MV recovery) re-lands partitioned
      val pspec = specOver(df.schema, declareSpec.getOrElse(partitionSpec))
      // same hash write distribution as append: one shuffle keyed on
      // the partition values → one file per value per commit, not
      // one per (value × task)
      val files = writeStaged(
        if (pspec.isEmpty) df
        else df.repartition(pspec.map(f =>
          f.expr(df.schema(f.column).dataType)): _*),
        commitDir, pspec)
      // the payload is now fully materialized on disk — the earliest
      // point a redeclared spec may durably commit (see scaladoc); the
      // flag keeps head-race retries from declaring it twice
      if (!specDeclared) declareSpec.foreach { s =>
        declareSpecLine(s); specDeclared = true
      }
      val stats = stageStats(commitDir, statsCols, pspec, df.schema)
      val committedSchema =
        if (!keepSchema) df.schema.json
        else {
          val expected =
            DataType.fromJson(base.schemaJson).asInstanceOf[StructType]
          require(compatible(expected, df.schema),
            s"replace of $name (keepSchema):\n expected $expected\n " +
              s"got ${df.schema}")
          base.schemaJson
        }
      Some(Staged("replace", files, committedSchema, stats,
        removed = removed, properties = properties,
        commitDir = Some(commitDir)))
    }.merge
    catch {
      case e: Throwable =>
        // the compensating redeclare is itself a DISK WRITE: the same
        // IO failure that aborted the commit can throw again — attach
        // any secondary failure as suppressed instead of masking the
        // original. And re-check the CURRENT spec first: if it is no
        // longer the one we declared, a concurrent writer moved it
        // since (e.g. a same-spec RTAS that committed successfully) —
        // it is not ours to revert.
        if (specDeclared) {
          try {
            if (declareSpec.contains(partitionSpec))
              declareSpecLine(prevSpec)
          } catch {
            case c: Throwable if c ne e => e.addSuppressed(c)
          }
        }
        throw e
    }
  }

  /** Additive schema evolution: append new NULLABLE columns to the table
    * schema via a metadata-only `evolve` snapshot (no data files).
    * Existing parquet files simply lack the new columns, and reads —
    * which always pass the head schema explicitly — fill them with
    * nulls; subsequent appends must carry the evolved schema. The one
    * evolution shape Iceberg users lean on most, absent from the
    * reference (its mirror freezes the first batch's schema —
    * `icerunner.py:939-967`).
    *
    * `defaults` (the Iceberg v3 `initial-default`/`write-default`
    * shape) gives a new column a CONSTANT default instead of null:
    *  - rows in files that PREDATE the column read the default (the
    *    vectorized parquet reader fills absent columns from the
    *    schema's existence-default metadata — zero extra plan nodes,
    *    the single-scan fast path survives);
    *  - rows written AFTER the add keep whatever the writer stored —
    *    an explicit NULL stays NULL (absence of the column in the
    *    FILE triggers the default, not null-ness of a value);
    *  - [[append]]s that OMIT the column entirely get it filled with
    *    the default at write time (the write-default half);
    *  - a rewrite (compact/merge/update) MATERIALIZES the default into
    *    the new files, after which the metadata is inert for them.
    * The default must be a constant convertible to the column's type —
    * it is rendered as a SQL literal into the schema metadata, which
    * every era's read resolves.
    *
    * On a FIELD-ID table (one that has seen [[renameColumn]] /
    * [[dropColumn]]) new columns get fresh ids above every id any
    * retained era ever used, and re-using a name that a RETAINED era
    * knew under a different id is refused — without parquet-embedded
    * ids (Iceberg writes them into the files; we cannot retrofit),
    * re-adding a dropped name would resurrect the old column's data
    * through by-name reads. Expire the old eras first. */
  def addColumns(newCols: StructType,
      defaults: Map[String, Any] = Map.empty): Snapshot = {
    require(newCols.fields.forall(_.nullable),
      s"new columns must be nullable: $newCols")
    defaults.keys.foreach(k => require(newCols.fieldNames.contains(k),
      s"default for '$k' names no added column"))
    evolve(s"addColumns on $name") { current =>
      require(newCols.fields.forall(f => !current.fieldNames.contains(f.name)),
        s"column already exists: ${newCols.fieldNames.mkString(",")}")
      val snaps = log.snapshots
      val idMode = current.fields.exists(f => GraftTable.fieldIdOf(f).nonEmpty)
      val added0 =
        if (!idMode) newCols.fields
        else {
          newCols.fieldNames.foreach(n => requireNameFresh(snaps, n, None))
          var next = GraftTable.maxFieldId(snaps) + 1
          newCols.fields.map { f =>
            val tagged = GraftTable.withFieldId(f, next); next += 1; tagged
          }
        }
      val added = added0.map { f =>
        defaults.get(f.name) match {
          case None => f
          case Some(v) => GraftTable.withDefaultMetadata(f, v)
        }
      }
      StructType(current.fields ++ added)
    }
  }

  /** One metadata-only `evolve` commit: `change` maps each attempt's
    * fresh head schema to the evolved one, running its refusals against
    * that head, so a racing evolution is built on, never reverted. */
  private def evolve(what: String)(change: StructType => StructType): Snapshot =
    relink(what)(head => Staged("evolve", Seq.empty, change(schemaOf(head)).json))

  /** Change (SET) or remove (DROP, `value = None`) a column's
    * WRITE-default — the MUTABLE half of the v3 pair: future writers
    * omitting the column get the new constant (or must supply it after
    * a drop), while the INITIAL (exists) default stays frozen so rows
    * in files predating the column keep reading the value it was added
    * with. Metadata-only `evolve` commit, zero rewrite — same contract
    * as Iceberg's ALTER COLUMN … SET DEFAULT. */
  def setColumnDefault(colName: String, value: Option[Any]): Snapshot =
    evolve(s"setColumnDefault on $name") { current =>
      require(current.fieldNames.contains(colName),
        s"no column '$colName' on $name")
      StructType(current.fields.map { f =>
        if (f.name != colName) f
        else value match {
          case Some(v) =>
            // render through the one shared discipline, then keep ONLY
            // the write half — the exists half must not move
            val rendered = GraftTable.withDefaultMetadata(
              f.copy(metadata = org.apache.spark.sql.types.Metadata.empty), v)
            f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
              .putString(GraftTable.CurrentDefaultKey, rendered.metadata
                .getString(GraftTable.CurrentDefaultKey)).build())
          case None =>
            f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
              .remove(GraftTable.CurrentDefaultKey).build())
        }
      })
    }

  /** Does any RETAINED era know `name` under an id other than
    * `allowedId` (or with no id at all)? By-name projection of
    * pre-field-id eras makes such reuse unsound — refuse it. */
  private def requireNameFresh(snaps: Seq[Snapshot], name: String,
      allowedId: Option[Long]): Unit = {
    val legacy = GraftTable.legacyNames(snaps)
    def check(id: Option[Long], where: String): Unit = {
      // a retained era's use of the name is benign only when it is
      // THE SAME field: same id, or (id-less era) the legacy binding
      // of the allowed id is this name
      val sameField = allowedId.nonEmpty && (id == allowedId ||
        (id.isEmpty && allowedId.exists(a => legacy.get(a).contains(name))))
      require(sameField,
        s"column name '$name' was used by $where of ${this.name} " +
          "under a different field id — re-using it would resurrect " +
          "the old column's data via by-name reads; expire that " +
          "history first or pick a new name")
    }
    snaps.filter(_.schemaJson.nonEmpty).foreach { s =>
      val era = DataType.fromJson(s.schemaJson).asInstanceOf[StructType]
      era.fields.find(_.name == name).foreach(f =>
        check(GraftTable.fieldIdOf(f), s"retained snapshot ${s.snapshotId}"))
    }
    // bindings a checkpoint carried across an expiry horizon: the era
    // commits are gone but their bytes are still readable
    snaps.foreach { s =>
      GraftTable.retiredBindings(s).foreach { case (n, id) =>
        if (n == name)
          check(id, s"a carried era of checkpoint ${s.snapshotId}")
      }
    }
  }

  private def requireEvolvable(op: String): Unit =
    require(branches.isEmpty,
      s"$op on $name with open branch(es) ${branches.mkString(",")} " +
        "unsupported — the branch view is pinned to the fork-point " +
        "schema; publish or drop them first")

  /** Column names every LIVE tombstone binds: key-sidecar columns
    * (equality deletes anti-join by NAME), stored-predicate references
    * (the SQL re-resolves by name at every read). Position tombstones
    * bind files, not columns — they constrain nothing here. One footer
    * read per key sidecar; O(live tombstones), only ever called from
    * the (rare) evolution ops. */
  private def tombstoneRefs(): Set[String] = {
    val snaps = log.snapshots
    log.eqDeletesOf(snaps, None).iterator.flatMap {
      case (_, Tomb.Keys(abs)) =>
        spark.read.parquet(abs).schema.fieldNames.toSeq
      case (sid, Tomb.Pred(sql)) =>
        val era = schemaAsOfIn(snaps, Some(sid))
        emptyDf(era).filter(org.apache.spark.sql.functions.expr(sql))
          .queryExecution.analyzed.collectFirst {
            case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
              f.condition.references.map(_.name).toSeq
          }.getOrElse(era.fieldNames.toSeq) // unresolvable ⇒ conservative
      case (_, _: Tomb.Pos) => Nil
    }.toSet
  }

  /** Refuse `op` on `colName` while a live tombstone BINDS that column
    * (rename would silently unbind the sidecar/predicate; widen would
    * type-skew the anti-join; drop would orphan it). Evolution of
    * UNREFERENCED columns proceeds with tombstones live — the r14
    * narrowing of the old any-tombstone refusal. */
  private def requireColumnUnbound(op: String, colName: String): Unit =
    require(!tombstoneRefs().contains(colName),
      s"$op of column '$colName' on $name while a live merge-on-read " +
        "delete binds it — compact() to materialize the tombstones first")

  /** RENAME a column — metadata-only (the Iceberg field-id contract:
    * no data file is touched; old files keep the old physical name and
    * every read projects them by field id). First use upgrades the
    * table to FIELD-ID mode: the evolve commit's schema carries a
    * stable id per column, assigned positionally; eras before the
    * upgrade keep matching by name, which stays sound because
    * [[addColumns]]/[[renameColumn]] refuse to re-bind a retained
    * era's name to a different id. Layout declarations
    * ([[setSortOrder]], [[setPartitionSpec]]) that referenced the old
    * name are re-declared under the new one; manifest column STATS of
    * pre-rename files stay keyed by the old name, so range/bloom
    * pruning on the renamed column degrades to conservative (full
    * read) for those files until a [[compact]] re-records them —
    * soundness is unaffected. */
  def renameColumn(oldName: String, newName: String): Snapshot = {
    requireEvolvable("renameColumn")
    requireColumnUnbound("rename", oldName)
    val snap = evolveIds(s"renameColumn on $name") { current =>
      require(current.fieldNames.contains(oldName),
        s"no column '$oldName' in $name")
      require(!current.fieldNames.contains(newName),
        s"column '$newName' already exists in $name")
      require(oldName != newName, "rename to the same name")
      constraintCols.find(_._2.contains(oldName)).foreach { case (cn, _) =>
        throw new IllegalArgumentException(
          s"column '$oldName' is referenced by CHECK constraint '$cn' of " +
            s"$name — drop the constraint first (its stored SQL would " +
            "silently stop resolving)")
      }
      val myId = GraftTable.fieldIdOf(current(oldName))
      requireNameFresh(log.snapshots, newName, myId)
      StructType(current.fields.map(f =>
        if (f.name == oldName) f.copy(name = newName) else f))
    }
    renameInLayouts(oldName, newName)
    snap
  }

  /** [[evolve]] on a FIELD-ID table, upgrading it first if needed: ONE
    * evolve commit whose schema carries ids with UNCHANGED names — the
    * bridge record that lets id-less eras resolve by the name each id
    * had at upgrade time ([[GraftTable.legacyNames]]). An attempt whose
    * head has no ids (a rollback reverted the upgrade meanwhile)
    * refuses rather than evolve an id-less schema. */
  private def evolveIds(what: String)(change: StructType => StructType): Snapshot = {
    def idMode(sch: StructType) = sch.fields.forall(f => GraftTable.fieldIdOf(f).nonEmpty)
    publish(s"field-id upgrade of $name", SnapshotLog.RelinkLimit) { head =>
      val current = schemaOf(head)
      if (idMode(current)) None
      else Some(Staged("evolve", Seq.empty, GraftTable.withFieldIds(current).json))
    }
    evolve(what) { current =>
      if (!idMode(current)) throw new java.util.ConcurrentModificationException(
        s"$what: a concurrent commit reverted the table's field ids")
      change(current)
    }
  }

  /** WIDEN a column's type — metadata-only (Iceberg type promotion:
    * int→long, float→double, and integral up-widening): the evolve
    * commit re-declares the field at the wider type under its field
    * id; era files keep the narrow PHYSICAL type and reads cast
    * ([[GraftTable.widens]]), appends must carry the wide type from
    * here on. Recorded min/max stats stay valid (they are stored as
    * doubles), so pruning survives the widening untouched. Same
    * field-id upgrade + refusals as [[renameColumn]]. */
  /** EVERY [[widenColumn]] refusal WITHOUT committing anything — the
    * SQL router validates each spec of a multi-column ALTER before
    * the FIRST commit (atomic DDL: a statement refusing on a later
    * spec must not leave earlier specs durably applied). */
  def widenPreflight(colName: String,
      to: org.apache.spark.sql.types.DataType): Unit = {
    requireEvolvable("widenColumn")
    requireColumnUnbound("widen", colName)
    val f = schema.fields.find(_.name == colName).getOrElse(
      throw new IllegalArgumentException(s"no column '$colName' in $name"))
    require(GraftTable.widens(f.dataType, to),
      s"cannot widen ${f.dataType} to $to for $colName of $name — " +
        "only lossless promotions (integral up-widening, float→double)")
    // HASH-DOMAIN guards: bucket partition values and bloom sketches
    // hash the STORED width — murmur3(5: Int) != murmur3(5L), so a
    // probe at the new width against old-era entries would FALSELY
    // prune files (missed rows, not conservatism). Min/max range
    // stats are width-agnostic (doubles) and stay valid.
    require(!partitionSpecHistory.exists(p =>
        p.column == colName && p.kind == "bucket"),
      s"widening bucket-partitioned column '$colName' of $name would " +
        "change its hash domain under the recorded partition entries — " +
        "declare a spec off the column and compact() first")
    val snapsW = log.snapshots
    val statsW = snapsW.flatMap(_.stats).toMap
    val bloomed = log.filesWithSnapOf(snapsW, None).exists { case (abs, _) =>
      statsW.get(dir.relativize(Paths.get(abs)).toString)
        .exists(_.blooms.contains(colName))
    }
    require(!bloomed,
      s"widening '$colName' of $name while visible files carry bloom " +
        "sketches on it would break their hash domain — compact(" +
        "bloomCols=...) first to re-record them")
  }

  def widenColumn(colName: String,
      to: org.apache.spark.sql.types.DataType): Snapshot = {
    widenPreflight(colName, to)
    evolveIds(s"widenColumn on $name") { current =>
      widenPreflight(colName, to) // again, at the head this attempt lands on
      StructType(current.fields.map(g =>
        if (g.name == colName) g.copy(dataType = to) else g))
    }
  }

  /** DROP a column — metadata-only: the field leaves the schema, reads
    * project it away from every era's files (the bytes stay for time
    * travel until expiry). Same field-id upgrade + refusals as
    * [[renameColumn]]; a column still referenced by the current
    * partition spec must be removed from the spec first (its partition
    * values derive from it), and it is dropped from the declared sort
    * order automatically. */
  def dropColumn(colName: String): Snapshot = {
    requireEvolvable("dropColumn")
    requireColumnUnbound("drop", colName)
    val snap = evolveIds(s"dropColumn on $name") { current =>
      require(current.fieldNames.contains(colName),
        s"no column '$colName' in $name")
      require(current.fields.length > 1,
        s"cannot drop the last column of $name")
      require(!partitionSpec.exists(_.column == colName),
        s"column '$colName' is referenced by the current partition spec " +
          s"of $name — declare a spec without it first")
      constraintCols.find(_._2.contains(colName)).foreach { case (cn, _) =>
        throw new IllegalArgumentException(
          s"column '$colName' is referenced by CHECK constraint '$cn' of " +
            s"$name — drop the constraint first")
      }
      StructType(current.fields.filterNot(_.name == colName))
    }
    if (sortOrder.contains(colName))
      setSortOrder(sortOrder.filterNot(_ == colName))
    snap
  }

  private def renameInLayouts(oldName: String, newName: String): Unit = {
    if (sortOrder.contains(oldName))
      setSortOrder(sortOrder.map(c => if (c == oldName) newName else c))
    val spec = partitionSpec
    if (spec.exists(_.column == oldName))
      setPartitionSpec(spec.map(f =>
        if (f.column == oldName) f.copy(column = newName) else f))
  }

  /** Lazily repair layout declarations orphaned by a crash BETWEEN a
    * rename/drop's evolve commit and its layout re-declaration
    * ([[renameColumn]] cannot re-declare first — [[setPartitionSpec]]
    * validates against the pre-rename schema): a declared sort-order /
    * partition-spec column missing from the current schema maps to its
    * current name via field-id history and is re-declared; a column
    * that was DROPPED (no surviving id) leaves the sort order. Without
    * this, writes after such a crash silently land unpartitioned /
    * unclustered forever. Called from [[append]]; no-op (two cheap
    * membership checks) when every declared column exists. */
  private def healRenamedLayouts(): Unit = {
    if (log.head.isEmpty) return
    val cur = schema
    val names = cur.fieldNames.toSet
    // old name -> current name of the SAME field id, from retained eras
    lazy val renamedTo: Map[String, String] = {
      val curById = cur.fields.flatMap(f =>
        GraftTable.fieldIdOf(f).map(_ -> f.name)).toMap
      log.snapshots.filter(_.schemaJson.nonEmpty).flatMap { s =>
        DataType.fromJson(s.schemaJson).asInstanceOf[StructType]
          .fields.toSeq.flatMap(f => GraftTable.fieldIdOf(f).flatMap(id =>
            curById.get(id).filter(_ != f.name).map(f.name -> _)))
      }.toMap
    }
    val so = sortOrder
    if (so.exists(c => !names.contains(c))) {
      val healed = so.flatMap(c =>
        if (names.contains(c)) Some(c) else renamedTo.get(c)).distinct
      if (healed != so) setSortOrder(healed)
    }
    val spec = partitionSpec
    if (spec.exists(f => !names.contains(f.column))) {
      val healed = spec.map(f =>
        if (names.contains(f.column)) f
        else renamedTo.get(f.column).map(n => f.copy(column = n)).getOrElse(f))
      if (healed != spec && healed.forall(f => names.contains(f.column)))
        setPartitionSpec(healed)
    }
  }

  /** Small-file compaction: rewrite the current table contents into
    * `targetFiles` files and commit a `compact` snapshot that REPLACES
    * the visible file set (reads resolve from it; see
    * SnapshotLog.dataFiles). Logical content is unchanged — time travel
    * to earlier snapshots and changes-since across the compaction keep
    * working because prior data files are not deleted (that's
    * [[expireSnapshots]]' job). The write path every long-lived
    * append-heavy table needs: thousands of poll-loop appends (the
    * reference writes one row per second per writer) otherwise mean
    * thousands of tiny files per scan. */
  /** @param bloomCols re-record per-file bloom sketches on the rewritten
    *   files (see [[append]]) — without this a compact silently sheds
    *   the point-skipping index the appends built. */
  def compact(targetFiles: Int = 0, clusterBy: Seq[String] = Nil,
      statsCols: Seq[String] = Nil,
      zOrderBy: Seq[String] = Nil,
      zOrderQuantile: Boolean = false,
      bloomCols: Seq[String] = Nil): Snapshot = {
    require(zOrderBy.isEmpty || clusterBy.isEmpty,
      "pick zOrderBy OR clusterBy — the layouts are mutually exclusive")
    // A compact REPLACES the visible file set, so it must be conditional
    // on the snapshot it rewrote: an append that commits between our
    // read and our commit would otherwise be silently dropped from head
    // reads (the rewrite doesn't contain its rows, and dataFiles resolves
    // from the latest compact). Pin the read at the base snapshot, commit
    // with compare-and-swap on the head, and rebuild on conflict.
    publish(s"compact of $name") { base =>
      // row lineage: the rewrite READS every row's id and WRITES it as
      // a physical column — maintenance preserves identity (v3's rule)
      val lineage = rowLineageEnabled(Some(base.snapshotId))
      val current =
        if (lineage) readLineage(Some(base.snapshotId))
        else read(Some(base.snapshotId))
      val parts = if (targetFiles > 0) targetFiles
        else math.max(1, spark.sparkContext.defaultParallelism / 2)
      val commitDir = newCommitDir('c')
      // compaction is WHEN a long-appended table gets its Z-layout:
      // appends land in arrival order; one rewrite re-lays the whole
      // visible set along the curve (2 or 3 columns, matching
      // ZOrder.cluster; zOrderQuantile switches to the skew-robust
      // equal-mass ranks of ZOrder.clusterQuantile) and re-collects
      // prunable stats
      val out =
        if (zOrderBy.nonEmpty) {
          if (zOrderQuantile) ZOrder.clusterQuantile(current, zOrderBy, parts)
          else ZOrder.cluster(current, zOrderBy, parts)
        }
        else if (clusterBy.nonEmpty)
          current.repartitionByRange(parts,
            clusterBy.map(org.apache.spark.sql.functions.col): _*)
        else {
          // the declared default sort order applies to a plain compact
          // too ([[setSortOrder]]) — maintenance keeps the table's
          // layout without the caller restating it
          val so = sortOrder.filter(current.schema.fieldNames.contains)
          if (so.nonEmpty) current.repartitionByRange(parts,
            so.map(org.apache.spark.sql.functions.col): _*)
          else current.repartition(parts)
        }
      // the current partition spec survives a plain compact (same rule
      // as Iceberg's rewrite): files re-land one-partition-value-each
      // and keep pruning; an explicit zOrder/cluster layout wins instead
      val pspec =
        if (zOrderBy.isEmpty && clusterBy.isEmpty) specOver(current.schema)
        else Nil
      val files = writeStaged(out, commitDir, pspec)
      // without re-collected stats the compacted files would be unprunable
      // (a silent regression for readWhere) — record them when asked
      val wanted = (zOrderBy ++ clusterBy ++
        (if (zOrderBy.isEmpty && clusterBy.isEmpty)
          sortOrder.filter(current.schema.fieldNames.contains) else Nil) ++
        statsCols).distinct
      val stats = stageStats(commitDir, wanted, pspec, current.schema,
        bloomCols.filter(current.schema.fieldNames.contains))
      Some(Staged("compact", files, base.schemaJson, stats,
        commitDir = Some(commitDir),
        properties = carriedTxnMarkers(log.snapshots) ++
          (if (lineage)
            Map(SnapshotLog.RowIdMaterializedKey -> "1",
              SnapshotLog.RowIdNextKey ->
                SnapshotLog.rowIdNextOf(log.snapshots).get.toString)
           else Map.empty)))
    }.merge
  }

  /** PARTIAL binpack compaction (Iceberg's `rewrite_data_files`
    * binpack strategy): rewrite ONLY the visible files smaller than
    * `smallBytes` into ~`targetBytes` outputs, leaving every
    * right-sized file UNTOUCHED — the maintenance shape that holds at
    * 100 TB, where a full [[compact]] rewrite of the table per
    * maintenance tick is impossible. File sizes come from the
    * manifests ([[FileStat.bytes]]; a pre-upgrade file stats its size
    * from disk once). Commits as a `rewrite` snapshot: added files
    * re-house exactly the removed files' rows, so [[changesSince]]
    * SKIPS it (incremental readers and mirrors flow straight through
    * — no demotion to diff or rebuild, unlike CoW DML rewrites) and
    * time travel before it stays whole. The current partition spec
    * and the inherited stat/bloom columns re-land like every rewrite.
    *
    * Runs WITH live merge-on-read tombstones (since r13 — a
    * write-heavy table binpacks and MOR-deletes constantly, and the
    * old refusal forced a full-table compact between them): small
    * files group by their TOMBSTONE ERA (the interval between
    * key/predicate delete commits) and each group rewrites
    * separately, its outputs recording the inherited era sid
    * (`graft.tombsid.*`) so reads keep scoping them by the sid their
    * SOURCE rows were committed at — pre-delete rows cannot escape a
    * delete by being re-housed. Key/predicate tombstones are NOT
    * applied (the flow-through invariant: a rewrite changes no
    * logical rows, visible or tombstoned); POSITION tombstones
    * ([[deletePosMor]]) are the exception — they address file
    * identities that cease to exist, so the rewrite applies them,
    * which leaves the VISIBLE rows unchanged and their sidecar
    * entries vacuous. Needs ≥ 2 small files to be worth a commit —
    * returns None otherwise. */
  def compactSmall(smallBytes: Long, targetBytes: Long = 128L << 20,
      statsCols: Seq[String] = Nil): Option[Snapshot] = {
    require(smallBytes > 0 && targetBytes > 0, "sizes must be positive")
    publish(s"compactSmall of $name") { base =>
      val snaps = log.snapshots
      val statsByFile = snaps.flatMap(_.stats).toMap
      val visible = log.filesWithSnapOf(snaps, Some(base.snapshotId))
      def sizeOf(abs: String, rel: String): Long =
        statsByFile.get(rel).map(_.bytes).filter(_ >= 0)
          .getOrElse(scala.util.Try(Files.size(Paths.get(abs))).getOrElse(0L))
      val small = visible.map { case (abs, sid) =>
        (abs, sid, dir.relativize(Paths.get(abs)).toString)
      }.filter { case (abs, _, rel) => sizeOf(abs, rel) < smallBytes }
      if (small.size < 2) None
      else {
        val sch = schemaAsOfIn(snaps, Some(base.snapshotId))
        val lineage = rowLineageEnabled(Some(base.snapshotId))
        val dels = log.eqDeletesOf(snaps, Some(base.snapshotId))
        val posDels = dels.filter(_._2.isInstanceOf[Tomb.Pos])
        val rowDelSnaps = dels.collect {
          case (s, t) if !t.isInstanceOf[Tomb.Pos] => s }
        val bySid = snaps.map(s => s.snapshotId -> s).toMap
        def eff(abs: String, sid: Long): Long =
          GraftTable.tombSidOf(bySid, dir, abs, sid)
        // one rewrite group per tombstone era (index -1: after every
        // live delete); without live key/pred deletes this is ONE group
        val eraGroups = small
          .groupBy { case (abs, sid, _) =>
            rowDelSnaps.indexWhere(_ > eff(abs, sid)) }
          .toSeq.sortBy(_._1)
        val commitDir = newCommitDir('p')
        val pspec = specOver(sch)
        val tombProps = scala.collection.mutable.Map.empty[String, String]
        val files = eraGroups.zipWithIndex.flatMap { case ((gi, gfiles), idx) =>
          val gBytes = gfiles.map { case (abs, _, rel) => sizeOf(abs, rel) }.sum
          val gParts = math.max(1, ((gBytes + targetBytes - 1) / targetBytes).toInt)
          // position tombstones apply to the rewrite source (visible rows
          // unchanged); key/pred tombstones deliberately do NOT. Row
          // lineage: binpack must be invisible to identity — ids ride
          // into the re-packed files as a physical column.
          val gws = gfiles.map { case (abs, sid, _) => (abs, sid) }
          val packed = (if (lineage) readWithLineage(gws, posDels, sch, snaps)
            else readWithDeletes(gws, posDels, sch, snaps))
            .repartition(gParts)
          val gFiles = writeStaged(packed, commitDir.resolve(f"g$idx%02d"), pspec)
          if (gi >= 0) {
            // the group's rows stay scoped by their sources' era: record
            // the inherited sid (any member's effective sid — all map to
            // the same delete-era interval by construction)
            val repSid = eff(gfiles.head._1, gfiles.head._2)
            gFiles.foreach(f =>
              tombProps(GraftTable.TombSidPrefix + f) = repSid.toString)
          }
          gFiles
        }.sorted
        val removed = small.map(_._3).sorted
        // same stat/bloom inheritance discipline as merge/deleteWhere
        val stats = rewriteStats(commitDir, removed, sch, statsCols, pspec)
        Some(Staged("rewrite", files, base.schemaJson, stats,
          removed = removed, commitDir = Some(commitDir),
          properties = tombProps.toMap ++
            (if (lineage) Map(SnapshotLog.RowIdMaterializedKey -> "1")
             else Map.empty)))
      }
    }.toOption
  }

  /** METADATA CHECKPOINT: commit a `compact`-resolving snapshot that
    * re-lists the CURRENT visible file set without touching one data
    * byte (Iceberg's rewrite-manifests shape) — the expiry enabler
    * for tables maintained by PARTIAL rewrites: [[expireSnapshots]]
    * severs history only at a full-set snapshot, and before this the
    * only way to mint one was a full-table [[compact]], impossible at
    * 100 TB. All recorded stats/blooms carry over (pruning
    * unaffected); O(files) metadata, zero Spark jobs.
    *
    * EVOLVED tables checkpoint too (since r13 — binpack maintenance
    * makes compact-free expiry most valuable exactly there): a carried
    * file whose era is NOT name+type identity with the head schema
    * (renamed / widened eras) gets a per-file ERA BINDING in the
    * checkpoint's properties — the era schema stored with field ids
    * MATERIALIZED through the legacy binding captured now, while the
    * pre-upgrade history still exists — and reads resolve it
    * ([[readFilesProjected]]) even after expiry severs every evolve
    * commit before the horizon. Every (name, id) binding those eras
    * contain that differs from the head's is recorded as RETIRED, so
    * name-freshness and id-issuance guards keep refusing re-use while
    * the bytes remain readable.
    *
    * LIVE merge-on-read tombstones are CARRIED (since r13 — a table
    * under continuous MOR deletes never has a tombstone-free moment,
    * which previously made checkpoints unusable exactly where binpack
    * maintenance needs them): each live tombstone's components land
    * in `graft.carrydel.*` properties with their ORIGINAL snapshot
    * ids, the sidecar files join the checkpoint's `deleteFiles` (so
    * expiry retains them and fsck keeps checking them), and every
    * carried data file records its tombstone-era sid
    * (`graft.tombsid.*`) — reads after the horizon re-materialize the
    * tombstones and scope them exactly as before it. Incremental
    * readers flow through (no NEW rows die at a checkpoint); [[diff]]
    * windows crossing it stay incremental (the delete sets compare
    * equal across the carry). */
  def checkpoint(): Snapshot = {
    val snaps = log.snapshots
    val base = snaps.lastOption.getOrElse(throw noSnapshots)
    val head = schemaAsOfIn(snaps, None)
    val legacy = GraftTable.legacyNames(snaps)
    val legacyInv = legacy.map(_.swap) // name -> id at upgrade time
    val headIdByName = head.fields
      .map(f => f.name -> GraftTable.fieldIdOf(f)).toMap
    val ckBySid = snaps.iterator
      .filter(_.properties.contains(GraftTable.CheckpointKey))
      .map(s => s.snapshotId -> s).toMap
    val eraJson = scala.collection.mutable.Map.empty[Long, String]
    def eraOf(sid: Long): String =
      eraJson.getOrElseUpdate(sid, schemaAsOfIn(snaps, Some(sid)).json)
    val visible = log.filesWithSnapOf(snaps, Some(base.snapshotId))
    val props = scala.collection.mutable.Map.empty[String, String]
    val eraIdx = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val retired = scala.collection.mutable.LinkedHashSet.empty[(String, Option[Long])]
    visible.foreach { case (abs, sid) =>
      val rel = dir.relativize(Paths.get(abs)).toString
      // resolve through a PRIOR checkpoint's binding: chained
      // checkpoints keep re-carrying the original era
      val json = ckBySid.get(sid)
        .flatMap(GraftTable.checkpointEraOf(_, rel)).getOrElse(eraOf(sid))
      val era = DataType.fromJson(json).asInstanceOf[StructType]
      val eraNames = era.fieldNames.toSet
      val identity = GraftTable.eraProjection(era, head, legacy).forall {
        case (Some(src), tgt) =>
          src.name == tgt.name && src.dataType == tgt.dataType
        case (None, tgt) => !eraNames.contains(tgt.name)
      }
      if (!identity) {
        // materialize ids so the stored era resolves by id past expiry
        val tagged = StructType(era.fields.map { f =>
          if (GraftTable.fieldIdOf(f).nonEmpty) f
          else legacyInv.get(f.name)
            .map(GraftTable.withFieldId(f, _)).getOrElse(f)
        }).json
        val idx = eraIdx.getOrElseUpdate(tagged, eraIdx.size)
        props(GraftTable.EraOfPrefix + rel) = idx.toString
      }
      // name-freshness memory: every era binding (identity eras too —
      // a DROPPED column's bytes sit in an identity-era file) that is
      // not the head's binding of that name
      era.fields.foreach { f =>
        val id = GraftTable.fieldIdOf(f)
        val sameAsHead = headIdByName.get(f.name).exists(hid =>
          id == hid || (id.isEmpty && hid.exists(h => legacy.get(h).contains(f.name))))
        if (!sameAsHead) retired += ((f.name, id))
      }
    }
    eraIdx.foreach { case (json, idx) =>
      props(GraftTable.EraPrefix + idx) = json }
    // carry PRIOR checkpoints' retired bindings too (their files may
    // have been rewritten since, but conservatism here only refuses
    // name reuse, never data)
    snaps.foreach(s => GraftTable.retiredBindings(s).foreach(retired += _))
    retired.toSeq.zipWithIndex.foreach { case ((n, id), i) =>
      props(GraftTable.RetiredPrefix + i) = s"${id.map(_.toString).getOrElse("-")}:$n"
    }
    // LIVE tombstones carry across the horizon: components with their
    // original sids, sidecars into deleteFiles, and a tombstone-era
    // sid for every carried data file (eff resolves prior binpack/
    // checkpoint inheritance, so chains collapse to one hop)
    val dels = log.eqDeletesOf(snaps, Some(base.snapshotId))
    val bySid = snaps.map(s => s.snapshotId -> s).toMap
    val carrySidecars = Seq.newBuilder[String]
    var cn = 0
    def addCarry(v: String): Unit = {
      props(SnapshotLog.CarryDelPrefix + cn) = v; cn += 1
    }
    dels.foreach {
      case (sid, Tomb.Keys(abs)) =>
        val r = dir.relativize(Paths.get(abs)).toString
        addCarry(s"$sid:K:$r"); carrySidecars += r
      case (sid, Tomb.Pred(sql)) => addCarry(s"$sid:P:$sql")
      case (sid, Tomb.Pos(sidecars, files)) =>
        sidecars.foreach { a =>
          val r = dir.relativize(Paths.get(a)).toString
          addCarry(s"$sid:O:$r"); carrySidecars += r
        }
        files.foreach { f =>
          addCarry(s"$sid:F:$f")
          // re-record the commit's per-file position count (sid-scoped:
          // several carried commits may name the same file) so the
          // metadata-only COUNT stays exact after the posdelete
          // snapshot itself expires; posCountOf resolves through a
          // PRIOR checkpoint's carry, so chains keep the counts too
          GraftTable.posCountOf(snaps, bySid, sid, f).foreach(n =>
            props(SnapshotLog.PosCarryCountPrefix + s"$sid:$f") = n.toString)
        }
    }
    if (dels.nonEmpty) {
      val tombBySid = snaps.map(s => s.snapshotId -> s).toMap
      visible.foreach { case (abs, sid) =>
        props(GraftTable.TombSidPrefix +
          dir.relativize(Paths.get(abs)).toString) =
          GraftTable.tombSidOf(tombBySid, dir, abs, sid).toString
      }
    }
    // ROW-LINEAGE carry: re-record every visible file's first-row-id
    // (or its physical-ids flag) and the next counter — the assigning
    // commits are exactly what expiry will drop, and without the carry
    // ids would silently vanish with them
    SnapshotLog.rowIdNextOf(snaps).foreach { next =>
      val firsts = SnapshotLog.rowIdFirsts(snaps)
      val matRels = SnapshotLog.rowIdMatRels(snaps)
      val seqs = SnapshotLog.rowSeqOf(snaps)
      visible.foreach { case (abs, _) =>
        val r = dir.relativize(Paths.get(abs)).toString
        if (matRels.contains(r))
          props(SnapshotLog.RowIdMatFilePrefix + r) = "1"
        else {
          firsts.get(r).foreach(f =>
            props(SnapshotLog.RowIdFirstPrefix + r) = f.toString)
          // virtual seq carried too: without it the checkpoint's own
          // re-listing would bump every carried row to the checkpoint id
          seqs.get(r).foreach(q =>
            props(SnapshotLog.RowSeqFilePrefix + r) = q.toString)
        }
      }
      props(SnapshotLog.RowIdNextKey) = next.toString
    }
    // USER-PROPERTY carry: re-state the effective map at the base cut
    // — the set/unset delta commits are exactly what expiry drops, and
    // without the carry SET TBLPROPERTIES would silently vanish with
    // them (unset keys simply aren't re-stated)
    userPropertiesIn(snaps, Some(base.snapshotId)).foreach { case (k, v) =>
      props(GraftTable.UserPropSetPrefix + k) = v }
    val statsByFile = snaps.flatMap(_.stats).toMap
    val rel = visible.map { case (abs, _) =>
      dir.relativize(Paths.get(abs)).toString }.sorted
    // Set membership, not Seq.contains: the carry filter runs once per
    // recorded stat — linear, not O(stats × files), at metadata scale
    val relSet = rel.toSet
    log.publishAt(base.snapshotId, s"checkpoint of $name")(Staged("compact",
      rel, base.schemaJson, statsByFile.filter { case (f, _) => relSet(f) },
      deleteFiles = carrySidecars.result().distinct.sorted,
      properties = carriedTxnMarkers(snaps) ++ props +
        (GraftTable.CheckpointKey -> "true")))
  }

  /** POSITION-TOMBSTONE compaction (Iceberg's
    * `rewrite_position_delete_files`): merge every LIVE position
    * tombstone's sidecars into one consolidated commit and PRUNE
    * DANGLING entries — positions naming files that have since left
    * the visible set (a CoW rewrite folded them in; the stale entries
    * cost an anti-join probe per read for nothing). A table under
    * continuous O(1) position deletes accrues one sidecar per commit;
    * each read anti-joins every one of them, so maintenance here is
    * what keeps the merge-on-read read path flat — WITHOUT the full
    * data rewrite a [[compact]] costs (zero data files read or
    * written; cost is O(tombstone rows)).
    *
    * The rewrite snapshot carries [[SnapshotLog.PosRewriteKey]]:
    * [[SnapshotLog.eqDeletesOf]] drops every earlier position
    * tombstone at it (key/predicate tombstones are untouched — their
    * era scoping forbids cross-sid merging), and incremental readers
    * flow THROUGH it like a carrying checkpoint (it deletes no new
    * rows). Positions are file-scoped, so re-expressing them under
    * the new snapshot id is semantics-free. Fresh per-file counts
    * keep [[metaCount]] exact — tighter than before, since dangling
    * entries no longer inflate nothing. CAS on the probed head (a
    * concurrent delete/rewrite re-probes). None ⇔ no live position
    * tombstones. */
  def compactDeletes(): Option[Snapshot] = {
    import org.apache.spark.sql.functions.col
    publish(s"delete compaction of $name") { head =>
      val snaps = log.snapshots
      val pos = log.eqDeletesOf(snaps, Some(head.snapshotId))
        .collect { case (sid, p: Tomb.Pos) => (sid, p) }
      if (pos.isEmpty) None
      else {
        val visibleRel = log.dataFilesOf(snaps, Some(head.snapshotId))
          .map(a => dir.relativize(Paths.get(a)).toString).toSet
        val namedLive = pos.flatMap(_._2.files).toSet.intersect(visibleRel)
        val commitDir = newCommitDir('x')
        var files = Seq.empty[String]
        var counts = Map.empty[String, String]
        if (namedLive.nonEmpty) {
          // output sidecar count scales with tombstone volume, not with
          // how fragmented the inputs were — usually exactly one file
          val parts = math.max(1, pos.map(_._2.sidecars.size).sum / 16)
          files = writeStaged(spark.read.parquet(pos.flatMap(_._2.sidecars): _*)
            .filter(col("file").isInCollection(namedLive))
            .distinct()
            .coalesce(parts), commitDir)
          counts = spark.read
            .parquet(files.map(f => dir.resolve(f).toString): _*)
            .groupBy("file").count().collect()
            .map(r => (SnapshotLog.PosCountPrefix + r.getString(0)) ->
              r.getLong(1).toString).toMap
        }
        // all-dangling ⇒ a pure CLEAR: PosRewriteKey alone supersedes
        // the vacuous tombstones, no sidecar at all
        val props = Map(SnapshotLog.PosRewriteKey -> "1") ++
          (if (files.nonEmpty)
            counts + (SnapshotLog.PosDeleteKey -> "1") +
              (SnapshotLog.PosFilesKey -> namedLive.toSeq.sorted.mkString("\n"))
          else Map.empty[String, String])
        Some(Staged("posrewrite", Seq.empty, head.schemaJson,
          deleteFiles = files, properties = props,
          commitDir = Some(commitDir)))
      }
    }.toOption
  }

  /** Expire history: delete manifests with id < `keepFromId` and any
    * data file referenced ONLY by them. Time travel before the horizon
    * is gone; current reads and changes-since after it are unaffected.
    * Run after [[compact]] to reclaim the rewritten small files. */
  def expireSnapshots(keepFromId: Long): Unit = {
    val snaps = log.snapshots
    // Retained time travel must stay whole: a cut c resolves files from
    // the latest compact ≤ c back, so history may only be severed AT a
    // compact snapshot — expiring to any other point leaves retained
    // cuts whose resolution reaches into deleted manifests (silent
    // row loss). keepFromId ≤ the first id is a no-op.
    val firstId = snaps.headOption.map(_.snapshotId).getOrElse(1L)
    require(keepFromId <= firstId ||
        snaps.exists(s => s.snapshotId == keepFromId && s.operation == "compact"),
      s"expiry horizon must be a compact snapshot id (history severs only at a rewrite)")
    // tags PROTECT their snapshot: expiring past one would silently
    // break its pinned read — refuse until the tag is dropped
    val protectedTags = tags.filter(_._2 < keepFromId)
    require(protectedTags.isEmpty,
      s"expiry to $keepFromId would break tag(s) " +
        protectedTags.map { case (n, id) => s"'$n'@$id" }.mkString(", ") +
        " — drop them first")
    // an OPEN branch's audit view resolves from its fork-point parent:
    // expiring past it would break readBranch/publishBranch mid-flight
    val brokenBranches = branches.filter(b => branchParent(b) < keepFromId)
    require(brokenBranches.isEmpty,
      s"expiry to $keepFromId would sever open branch(es) " +
        brokenBranches.mkString(", ") + " from their fork point — " +
        "publish or drop them first")
    val (dead, live) = snaps.partition(_.snapshotId < keepFromId)
    val liveFiles = live.flatMap(s => s.addedFiles ++ s.deleteFiles).toSet
    dead.flatMap(s => s.addedFiles ++ s.deleteFiles).distinct
      .filterNot(liveFiles.contains)
      .foreach(f => Files.deleteIfExists(dir.resolve(f)))
    dead.foreach(s => log.deleteManifest(s.snapshotId))
  }

  /** AGE-based retention (how retention is actually configured —
    * "keep 7 days"): expire every snapshot older than `tsMillis`,
    * severing at the NEWEST full-set snapshot (compact / checkpoint)
    * committed at-or-before the instant — the closest legal horizon,
    * since history only severs at a rewrite. Returns the horizon id,
    * or None when no full-set snapshot that old exists (nothing can be
    * expired yet — run [[checkpoint]] first; a table maintained by
    * partial rewrites mints one in O(metadata)). Tag/branch
    * protections are [[expireSnapshots]]'s, unchanged. */
  def expireOlderThan(tsMillis: Long): Option[Long] = {
    val snaps = log.snapshots
    val horizon = snaps
      .filter(s => s.operation == "compact" && s.timestampMs <= tsMillis)
      .lastOption.map(_.snapshotId)
    horizon.filter(h => snaps.headOption.exists(_.snapshotId < h))
      .map { h => expireSnapshots(h); h }
  }

  /** One-call table MAINTENANCE — the OPTIMIZE/nightly-job story, in
    * the order the pieces compose best:
    *
    *  1. [[compactSmall]] binpacks small files (era-grouped, safe
    *     under live tombstones; position tombstones get applied since
    *     their named file identities retire);
    *  2. [[compactDeletes]] consolidates the position tombstones the
    *     binpack just dangled (plus any accrued ones) into one pruned
    *     sidecar — or clears them outright when all dangling;
    *  3. optionally ([[MaintainReport.expired]]) a metadata
    *     [[checkpoint]] + [[expireSnapshots]] reclaims history — OFF
    *     by default because it destroys time travel before now; a
    *     refusal (protecting tag, open branch) is REPORTED, not
    *     thrown, so the rest of maintenance still lands;
    *  4. [[removeOrphans]] reclaims crashed writers' debris under the
    *     grace period.
    *
    * Each step is a normal commit with its usual guarantees; a crash
    * between steps leaves a consistent table that the next maintain
    * simply resumes. Readers are never blocked (every step is either
    * metadata-only or a CAS-committed rewrite). */
  def maintain(smallBytes: Long = 32L << 20,
      targetBytes: Long = 128L << 20,
      expireHistory: Boolean = false,
      orphanGraceMs: Long = 259200000L): GraftTable.MaintainReport = {
    val binpacked = compactSmall(smallBytes, targetBytes).isDefined
    val posMerged = compactDeletes().isDefined
    var expired = false
    var refusal: Option[String] = None
    if (expireHistory) {
      try {
        val ck = checkpoint()
        expireSnapshots(ck.snapshotId)
        expired = true
      } catch {
        case scala.util.control.NonFatal(e) =>
          refusal = Some(Option(e.getMessage).getOrElse(e.toString))
      }
    }
    GraftTable.MaintainReport(binpacked, posMerged, expired, refusal,
      removeOrphans(orphanGraceMs))
  }

  /** Roll the head back to `snapshotId` by committing a NEW snapshot
    * whose visible file set equals that cut — the UNDO for a bad
    * append/upsert/delete, preserving history (the rolled-back
    * commits stay time-travelable until expiry; Iceberg's
    * rollback_to_snapshot has the same shape). Metadata-only: no data
    * is read, written, or deleted; the schema reverts to the target
    * era's. Incremental readers refuse to cross it (rows were
    * logically replaced), routing mirrors onto the changelog path —
    * [[diff]] handles a rollback exactly like any rewrite. CAS on the
    * head observed at entry: a concurrent commit aborts the rollback
    * instead of being silently reverted. */
  def rollbackTo(snapshotId: Long): Snapshot = {
    // one atomic log capture serves every derived view (same
    // discipline as diff); publishAt still rejects a commit that lands
    // after this read
    val snaps = log.snapshots
    // LIVE tombstones allow a rollback exactly when the visible delete
    // set is UNCHANGED between the target and the head (since r13 —
    // the bad-batch-while-tombstones-are-live undo no longer costs a
    // full-table compact): the re-listed files then inherit their
    // tombstone-era sids below and scope identically. A delete (or a
    // materializing compact/replace) INSIDE the window changes what
    // the target's rows should see — refuse rather than silently
    // resurrect (or re-kill) rows.
    require(log.eqDeletesOf(snaps, None) ==
        log.eqDeletesOf(snaps, Some(snapshotId)),
      s"rollback of $name across a merge-on-read delete boundary " +
        "unsupported (tombstone visibility differs between the cuts) " +
        "— compact() to materialize first")
    val head = snaps.lastOption.map(_.snapshotId).getOrElse(throw noSnapshots)
    require(snaps.exists(_.snapshotId == snapshotId),
      s"snapshot $snapshotId of $name does not exist (expired or never committed)")
    require(snapshotId < head,
      s"rollback target $snapshotId is not before head $head")
    def rel(abs: Seq[String]): Set[String] =
      abs.map(a => dir.relativize(java.nio.file.Paths.get(a)).toString).toSet
    val target = rel(log.dataFilesOf(snaps, Some(snapshotId)))
    val current = rel(log.dataFilesOf(snaps, Some(head)))
    val added = (target -- current).toSeq.sorted
    val removed = (current -- target).toSeq.sorted
    // stats for re-added files travel with the snapshot that adds them:
    // recover each file's stats from whichever retained snapshot
    // recorded them, so readWhere keeps pruning after the rollback
    val statsByFile = snaps.flatMap(_.stats).toMap
    val targetSchema = schemaAsOfIn(snaps, Some(snapshotId)).json
    // re-ADDED files inherit their tombstone-era sids (the rollback
    // commit postdates every live delete — without this, re-listed
    // pre-delete rows would escape their tombstones' scope)
    val addedSet = added.toSet
    val tombProps =
      if (log.eqDeletesOf(snaps, None).isEmpty) Map.empty[String, String]
      else {
        val bySid = snaps.map(s => s.snapshotId -> s).toMap
        log.filesWithSnapOf(snaps, Some(snapshotId)).collect {
          case (abs, sid)
              if addedSet(dir.relativize(Paths.get(abs)).toString) =>
            (GraftTable.TombSidPrefix +
              dir.relativize(Paths.get(abs)).toString) ->
              GraftTable.tombSidOf(bySid, dir, abs, sid).toString
        }.toMap
      }
    log.publishAt(head, s"rollback of $name")(Staged("rollback", added,
      targetSchema, statsByFile.filter { case (f, _) => addedSet(f) },
      removed = removed, properties = tombProps))
  }

  /** Delete data files referenced by NO retained snapshot — the debris
    * of crashed writes (data lands before the manifest commit; a
    * failure in between strands it) and of expired history. Age-gated:
    * only files modified more than `graceMs` ago are touched, so a
    * concurrent writer's just-written, not-yet-committed files
    * survive. The default grace is 72 HOURS (Iceberg's
    * remove_orphan_files uses 3 days for the same reason): every
    * in-flight write — including a full-table [[compact]] rewrite,
    * which at 100 TB can run for hours — stages its data files BEFORE
    * its manifest commit, so any grace shorter than the longest
    * plausible write phase lets orphan removal delete files a
    * concurrent commit is about to reference (silent row loss on
    * read). Do not pass a short grace while writers or compactions
    * may be running. Referenced means added OR removed by any
    * retained snapshot — removed files stay addressable for time
    * travel until their adding snapshot expires. Returns the deleted
    * relative paths. */
  def removeOrphans(graceMs: Long = 259200000L): Seq[String] = {
    // an OPEN branch's staged commits reference data files that no main
    // snapshot knows yet — they are pending, not orphaned; only a
    // dropBranch turns them into collectable debris
    val referenced = (log.snapshots ++
        branches.flatMap(b => new SnapshotLog(dir, Some(b)).snapshots))
      .flatMap(s => s.addedFiles ++ s.removedFiles ++ s.deleteFiles).toSet
    val dataDir = dir.resolve("data")
    if (!Files.isDirectory(dataDir)) return Nil
    val cutoff = System.currentTimeMillis() - graceMs
    val deleted = Seq.newBuilder[String]
    val walk = Files.walk(dataDir)
    try {
      walk.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .foreach { p =>
          val r = dir.relativize(p).toString
          if (!referenced.contains(r) &&
              Files.getLastModifiedTime(p).toMillis < cutoff) {
            Files.deleteIfExists(p)
            deleted += r
          }
        }
    } finally walk.close()
    deleted.result()
  }

  // ---------------------------------------------------------------- WAP
  // Write-audit-publish branches (Iceberg's branch refs, scoped to the
  // staging workflow they exist for): a branch stages commits in its own
  // manifest sequence, INVISIBLE to every main-table read; audit queries
  // run against the branch view (main-at-fork + staged commits); publish
  // lands the whole branch as ONE CAS-conditional main commit, so
  // concurrent main writers are detected, a crash mid-publish is
  // impossible to half-observe, and un-published data is dropped by
  // deleting metadata only. At 100 TB this is how a daily load runs its
  // quality gates without ever exposing unvetted rows to readers.

  private def branchDir(b: String): Path =
    dir.resolve("_snapshots").resolve(s"branch-$b")

  private def requireBranchName(b: String): Unit =
    require(b.matches("[A-Za-z0-9_-]+"), s"invalid branch name: '$b'")

  /** Open branches of this table. */
  def branches: Seq[String] = {
    val snapRoot = dir.resolve("_snapshots")
    if (!Files.isDirectory(snapRoot)) return Nil
    val listing = Files.list(snapRoot) // close: fd leak otherwise
    try listing.iterator().asScala
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("branch-"))
      .map(_.getFileName.toString.stripPrefix("branch-"))
      .toSeq.sorted
    finally listing.close()
  }

  /** Fork a branch at the current head. Returns the fork-point (parent)
    * snapshot id the branch's reads and its publish CAS are pinned to. */
  def createBranch(b: String): Long = {
    requireBranchName(b)
    val parent = currentSnapshotId.getOrElse(throw noSnapshots)
    val bd = branchDir(b)
    try Files.createDirectories(bd.getParent)
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
    Files.createDirectory(bd) // atomic: EEXIST ⇒ branch already open
    Files.writeString(bd.resolve("parent"), parent.toString)
    parent
  }

  private def branchParent(b: String): Long = {
    val p = branchDir(b).resolve("parent")
    require(Files.exists(p), s"branch '$b' of $name does not exist")
    Files.readString(p).trim.toLong
  }

  /** Stage an append on a branch: data files land under the table's
    * data dir exactly as [[append]] writes them (publish is then
    * metadata-only — no copy), but the manifest commits to the BRANCH
    * sequence, so main readers cannot observe the rows. */
  def appendBranch(b: String, df: DataFrame, clusterBy: Seq[String] = Nil,
      statsCols: Seq[String] = Nil,
      properties: Map[String, String] = Map.empty): Snapshot = {
    val parent = branchParent(b)
    val expected = schemaAsOf(Some(parent))
    require(compatible(expected, df.schema),
      s"branch append schema mismatch for $name@$b:\n" +
        s" expected $expected\n got ${df.schema}")
    val commitDir = newCommitDir('b')
    val files = writeStaged(if (clusterBy.isEmpty) df
      else df.repartitionByRange(clusterBy.map(org.apache.spark.sql.functions.col): _*),
      commitDir)
    val stats = stageStats(commitDir, (clusterBy ++ statsCols).distinct)
    // the branch view is pinned to the fork point: nothing to re-derive
    new SnapshotLog(dir, Some(b)).publish(s"branch append to $name@$b",
      SnapshotLog.RelinkLimit)(_ => Right(Staged("append", files,
        expected.json, stats, properties = properties))).merge
  }

  /** [[lastTxnBatch]] for a sink staging onto BRANCH `b` (the WAP
    * streaming workflow): the branch's own staged markers win, and the
    * MAIN log answers for batches whose branch was already published —
    * [[publishBranch]] carries the staged markers into its one main
    * commit, so a replay arriving after publish+drop still no-ops. */
  def lastTxnBatchBranch(b: String, appId: String): Option[Long] = {
    val staged = new SnapshotLog(dir, Some(b)).snapshots.flatMap(s =>
      if (s.properties.get(GraftTable.TxnAppIdKey).contains(appId))
        s.properties.get(GraftTable.TxnBatchKey).flatMap(_.toLongOption)
      else None).maxOption
    (staged.toSeq ++ lastTxnBatch(appId).toSeq).maxOption
  }

  /** The audit view: main as of the fork point plus every staged branch
    * commit — what [[publishBranch]] would make the head. LIVE
    * tombstones at the fork apply (since r13 — WAP staging works on a
    * MOR-deleted table): fork-cut main files are scoped as usual,
    * while staged files — recorded at the parent sid, which every
    * live delete's sid is ≤ — naturally escape scoping, exactly the
    * sequence semantics a real append after the deletes would get. */
  def readBranch(b: String): DataFrame = {
    val parent = branchParent(b)
    val snaps = log.snapshots
    val sch = schemaAsOfIn(snaps, Some(parent))
    // (relPath → adding snapshot) so pre-rename main files decode
    // era-projected; branch-staged files were written under the
    // fork-point schema — their "era" is the parent snapshot
    val files = new java.util.LinkedHashMap[String, Long]()
    log.filesWithSnapOf(snaps, Some(parent)).foreach { case (a, sid) =>
      files.put(dir.relativize(Paths.get(a)).toString, sid)
    }
    new SnapshotLog(dir, Some(b)).snapshots.foreach { s =>
      s.addedFiles.foreach(f => files.put(f, parent))
      s.removedFiles.foreach(files.remove)
    }
    val withSnap = files.entrySet().iterator().asScala
      .map(e => dir.resolve(e.getKey).toString -> e.getValue.longValue()).toSeq
    readWithDeletes(withSnap, log.eqDeletesOf(snaps, Some(parent)),
      sch, snaps)
  }

  /** Fast-forward main to the branch in ONE conditional commit: the
    * staged commits' net file delta publishes atomically (op
    * `publish`), CAS-pinned to the fork point — if main advanced since
    * the fork, the publish throws [[java.util.ConcurrentModificationException]]
    * instead of silently dropping the concurrent commit's rows; the
    * caller re-forks and re-audits (rebase). Branch metadata is deleted
    * on success; the staged data files are now owned by main. */
  def publishBranch(b: String): Snapshot = {
    val parent = branchParent(b)
    val bsnaps = new SnapshotLog(dir, Some(b)).snapshots
    require(bsnaps.nonEmpty, s"branch '$b' of $name has no staged commits")
    val added = new java.util.LinkedHashSet[String]()
    val removed = new java.util.LinkedHashSet[String]()
    bsnaps.foreach { s =>
      s.addedFiles.foreach(added.add)
      // a file staged then un-staged within the branch cancels; a
      // removal of a pre-fork main file carries into the publish
      s.removedFiles.foreach(f => if (!added.remove(f)) removed.add(f))
    }
    val stats = bsnaps.flatMap(_.stats).toMap
      .filter { case (f, _) => added.contains(f) }
    val snap = log.publishAt(parent, s"publish of $name@$b")(Staged("publish",
      added.iterator().asScala.toSeq, schemaAsOf(Some(parent)).json, stats,
      removed = removed.iterator().asScala.toSeq,
      // staged streaming txn markers ride the publish (carry-keyed, one
      // per appId): a sink replay arriving AFTER publish+drop probes
      // the main log and still no-ops instead of re-staging
      properties = carriedTxnMarkers(bsnaps)))
    dropBranch(b)
    snap
  }

  // --------------------------------------------------------------- tags
  // Named snapshot refs (Iceberg tags): a tag pins a snapshot id under
  // a stable name — "the data the March run trained on" — and PROTECTS
  // it from expiry until dropped. Metadata-only: one tiny ref file.

  private def tagPath(name: String): Path =
    dir.resolve("_snapshots").resolve(s"tag-$name")

  /** Pin `snapshotId` (default: current head) under `name`. */
  def tagSnapshot(name: String, snapshotId: Long = -1L): Long = {
    require(name.matches("[A-Za-z0-9_.-]+"), s"invalid tag name: '$name'")
    val snaps = log.snapshots
    val id = if (snapshotId < 0)
      snaps.lastOption.map(_.snapshotId).getOrElse(throw noSnapshots)
    else snapshotId
    require(snaps.exists(_.snapshotId == id),
      s"snapshot $id of ${this.name} does not exist (expired or never committed)")
    val p = tagPath(name)
    require(!Files.exists(p), s"tag '$name' already exists on ${this.name}")
    Files.writeString(p, id.toString)
    id
  }

  /** All tags as name → snapshot id. */
  def tags: Map[String, Long] = {
    val snapRoot = dir.resolve("_snapshots")
    if (!Files.isDirectory(snapRoot)) return Map.empty
    val listing = Files.list(snapRoot) // close: fd leak otherwise
    try listing.iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.startsWith("tag-"))
      .map(p => p.getFileName.toString.stripPrefix("tag-") ->
        Files.readString(p).trim.toLong)
      .toMap
    finally listing.close()
  }

  /** Read the table as of a tag. */
  def readTag(name: String): DataFrame = {
    val id = tags.getOrElse(name,
      throw new IllegalArgumentException(s"no tag '$name' on ${this.name}"))
    read(Some(id))
  }

  def dropTag(name: String): Unit = Files.deleteIfExists(tagPath(name))

  // ------------------------------------------------- table properties
  // USER-level table properties (the Iceberg table-properties shape,
  // SQL-addressable via ALTER TABLE … SET/UNSET TBLPROPERTIES and the
  // `t$properties` metadata table). Stored as DELTAS in snapshot
  // summaries — `graft.props.set.<k>` / `graft.props.unset.<k>` on a
  // file-less "properties" commit — so the effective map at ANY
  // retained cut folds from the log and time travel shows historical
  // values for free. [[checkpoint]] re-states the effective map, so
  // properties survive history expiry like every other carried state.
  // The `graft.props.*` prefix keeps user keys disjoint from the
  // engine's own commit metadata (txn markers, lineage, IVF stamps).

  /** Set user properties (upserts; other keys untouched). One
    * metadata-only commit for the whole map. */
  def setProperties(props: Map[String, String]): Snapshot = {
    require(props.nonEmpty, s"setProperties on $name: empty property map")
    props.keys.foreach(k => require(k.nonEmpty,
      s"setProperties on $name: empty property key"))
    relink(s"setProperties on $name")(head => Staged("properties", Nil,
      head.schemaJson, properties = props.map { case (k, v) =>
        (GraftTable.UserPropSetPrefix + k) -> v }))
  }

  /** Unset user properties. A key that is not currently set refuses
    * unless `ifExists` (the SQL IF EXISTS escape hatch) — silently
    * accepting a typo'd UNSET would leave the real key set forever. */
  def unsetProperties(keys: Seq[String], ifExists: Boolean = false): Snapshot = {
    require(keys.nonEmpty, s"unsetProperties on $name: no keys")
    publish(s"unsetProperties on $name", SnapshotLog.RelinkLimit) { head =>
      val current = userPropertiesIn(log.snapshots, Some(head.snapshotId))
      val missing = keys.filterNot(current.contains)
      require(ifExists || missing.isEmpty,
        s"UNSET TBLPROPERTIES on $name: no such " +
          s"propert${if (missing.size == 1) "y" else "ies"} " +
          s"${missing.mkString("'", "', '", "'")} (use IF EXISTS)")
      val deltas = keys.filter(current.contains).map(k =>
        (GraftTable.UserPropUnsetPrefix + k) -> "").toMap
      // IF EXISTS with nothing present (or a repeated COMMENT … IS NULL)
      // is a NO-OP — committing an empty properties snapshot would
      // advance the head for nothing (streams plan an empty batch, the
      // IVF re-stamps, $history gains a meaningless row)
      if (deltas.isEmpty) None
      else Some(Staged("properties", Nil, head.schemaJson, properties = deltas))
    }.merge
  }

  /** Effective user properties at `asOf` (head when None): fold the
    * retained set/unset deltas in commit order. O(#snapshots) driver
    * metadata walk, no data read. */
  def userProperties(asOf: Option[Long] = None): Map[String, String] =
    userPropertiesIn(log.snapshots, asOf)

  /** Same fold over an ALREADY-captured snapshot list (checkpoint's
    * atomic-view discipline — see [[SnapshotLog.dataFilesOf]]). */
  private def userPropertiesIn(snaps: Seq[Snapshot],
      asOf: Option[Long]): Map[String, String] = {
    val cut = asOf.getOrElse(Long.MaxValue)
    val m = scala.collection.mutable.LinkedHashMap.empty[String, String]
    snaps.iterator.filter(_.snapshotId <= cut).foreach { s =>
      s.properties.foreach { case (k, v) =>
        if (k.startsWith(GraftTable.UserPropSetPrefix))
          m(k.substring(GraftTable.UserPropSetPrefix.length)) = v
        else if (k.startsWith(GraftTable.UserPropUnsetPrefix))
          m.remove(k.substring(GraftTable.UserPropUnsetPrefix.length))
      }
    }
    m.toMap
  }

  /** `$properties` metadata table: (key, value), key-sorted. */
  def propertiesDf(asOf: Option[Long] = None): DataFrame = {
    import spark.implicits._
    userProperties(asOf).toSeq.sortBy(_._1).toDF("key", "value")
  }

  /** Discard a branch: metadata-only delete (the audit-failed path).
    * Staged data files become unreferenced debris for [[removeOrphans]]. */
  def dropBranch(b: String): Unit = SnapshotLog.deleteTree(branchDir(b))

  /** Row-level changes between two snapshots as a changelog feed
    * (the Delta-CDF / Iceberg-changelog shape the reference's mirror
    * could diff against instead of re-reading tables): each row of
    * the result is a table row plus `_change_type` ∈
    * {`insert`, `delete`}; an upsert's update appears as the delete
    * of the old version plus the insert of the new one.
    *
    * Unlike [[changesSince]] (append-only, refuses to cross a
    * rewrite), diff crosses upserts, deletes, and compactions, because
    * it works on the FILE sets: only files added or removed between
    * the cuts are read, and the multiset difference cancels content
    * that merely moved files, so a pure rewrite (compact) or the
    * untouched rows of a copy-on-write upsert produce no spurious
    * changes. Cost is O(changed files) for append/upsert/delete
    * windows — proportional to the hit set, which is what holds at
    * 100 TB — but a COMPACT between the cuts replaces the entire
    * visible file set, so both sides of the difference then read the
    * whole table (the result is still correct — unchanged rows
    * cancel — just at full-scan cost; diff across a maintenance
    * rewrite is inherently a full-table comparison in a file-set
    * model with no row lineage).
    *
    * Additive schema evolution between the cuts is read with the
    * `toId` schema (missing columns in older files surface as null,
    * same rule as [[read]] across evolutions).
    *
    * @param fromId exclusive-side snapshot (0 = before the table
    *               existed: every current row reads as an insert)
    * @param toId   inclusive snapshot to diff to (defaults to head) */
  def diff(fromId: Long, toId: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.functions.lit
    // ONE log capture: the head default, both existence guards, both
    // file sets, and the schema all derive from the same atomic view —
    // no torn read under a concurrent commit, no repeated manifest
    // listing/parsing per derived value.
    val snaps = log.snapshots
    val head = snaps.lastOption.map(_.snapshotId).getOrElse(throw noSnapshots)
    val to = if (toId == Long.MaxValue) head else toId
    require(to >= fromId, s"diff range reversed: ($fromId, $to]")
    require(to <= head, s"snapshot $to of $name does not exist (head is $head)")
    // An EXPIRED cut is unknowable on EITHER side: its manifests are
    // gone, so the file set would silently miss files and report
    // phantom changes. Same refuse-don't-guess stance as changesSince;
    // retained cuts always resolve wholly (expiry severs only at
    // compacts). Ids are contiguous, so retained ⟺ present in snaps.
    def requireRetained(id: Long, side: String): Unit =
      if (id > 0 && !snaps.exists(_.snapshotId == id))
        throw new HistoryExpiredException(
          s"snapshot $id of $name expired — diff $side unknowable")
    requireRetained(fromId, "base")
    requireRetained(to, "target")
    // merge-on-read deletes change rows WITHOUT changing file sets; a
    // file-set diff is sound only when both cuts see the SAME visible
    // delete set (shared files' tombstoned rows then cancel
    // identically, and files appended in the window postdate every
    // live delete). A delete or a materializing rewrite in the window
    // breaks that — refuse loudly, same stance as expiry (consumers
    // rebuild; MaterializedAgg does so automatically).
    if (log.eqDeletesOf(snaps, Some(fromId)) != log.eqDeletesOf(snaps, Some(to)))
      throw new HistoryExpiredException(
        s"diff ($fromId, $to] of $name crosses a merge-on-read delete " +
          "— compact() to materialize, or full re-sync")
    val before = log.filesWithSnapOf(snaps, Some(fromId)).toMap
    val after = log.filesWithSnapOf(snaps, Some(to)).toMap
    val sch = schemaAsOfIn(snaps, Some(to))
    // era-projected to the `toId` schema: the diff of a window that
    // crosses a rename reports changes under the CURRENT column names
    // for both sides (old-era files decode by field id). Both sides
    // read DELETE-APPLIED (the sets are equal at the two cuts, guarded
    // above): a merge/deleteWhere rewrite inside the window removes
    // files that live tombstones scope, and reading those raw would
    // report rows invisible since before the window as phantom deletes.
    val dels = log.eqDeletesOf(snaps, Some(to))
    def readFiles(fs: Map[String, Long]): DataFrame =
      readWithDeletes(fs.toSeq.sortBy(_._1), dels, sch, snaps)
    val added = readFiles(after -- before.keySet)
    val removed = readFiles(before -- after.keySet)
    added.exceptAll(removed).withColumn("_change_type", lit("insert"))
      .unionByName(
        removed.exceptAll(added).withColumn("_change_type", lit("delete")))
  }

  /** PER-COMMIT row-level change feed over `(fromId, toId]` — the
    * Delta CDF / Iceberg changelog-view shape (`table_changes` /
    * `create_changelog_view`): every row change each commit in the
    * window introduced, tagged `_change_type` ∈ {`insert`, `delete`,
    * `update_preimage`, `update_postimage`} plus
    * `_commit_snapshot_id`/`_commit_timestamp` attribution.
    *
    * Unlike [[diff]] (net file-set difference between two cuts,
    * refuses to cross a merge-on-read delete) the feed WALKS the
    * commits, so it attributes each change to its commit, reports
    * MOR deletes as the delete events they are, and pairs a merge's
    * delete+insert of the same key into update pre/post images (keys
    * from the commit's recorded [[GraftTable.DmlKeysKey]]; commits
    * without recorded keys — deleteWhere, overwriteWhere, replace —
    * report plain delete+insert, exactly Delta's CDF for those ops).
    * Changes are DERIVED at read time from the committed file sets
    * and tombstones — no write-time CDC sidecars, zero write-path
    * cost (the Iceberg changelog design, vs Delta's materialized
    * `_change_data` files).
    *
    * Per-commit read cost, the 100-TB posture:
    *  - append/create/publish: the commit's own added files — O(delta).
    *  - CoW merge/delete/overwrite/rollback: the commit's added +
    *    removed files (both sides of its rewrite) — O(affected), the
    *    same set the DML itself touched; the multiset `exceptAll`
    *    cancels survivor rows that merely moved files.
    *  - MOR key delete: the visible set STAT-PRUNED by the key
    *    sidecar's per-column ranges (one tiny driver aggregate over
    *    the sidecar — clustered tables skip most files), then one
    *    semi-join; NULL-keyed or non-range-typed sidecars scan
    *    unpruned (range pruning would be unsound — same rule as the
    *    merge probe).
    *  - MOR predicate delete: one filtered scan of the visible set
    *    (the predicate's hit set is unknowable from metadata —
    *    inherent, and what the original DELETE WHERE avoided paying
    *    is paid here by the feed consumer instead).
    *  - position delete: only the NAMED files, semi-joined with the
    *    sidecar positions — O(named).
    *  - replace: the full before+after sets (a whole-table overwrite
    *    IS a whole-table change).
    *  - evolve/compact/binpack/posrewrite/checkpoint: no logical row
    *    changed — zero rows, zero reads.
    *
    * All rows are era-projected to the `toId` schema (Delta reads CDF
    * under the latest schema the same way): a column dropped inside
    * the window is absent from earlier change rows too. Expired cuts
    * refuse ([[HistoryExpiredException]]); an unknown operation kind
    * refuses rather than silently skipping. `fromId = 0` is always
    * answerable: on a table whose early history was expired, the
    * severing checkpoint's visible set bootstraps the feed as inserts
    * attributed to the checkpoint (matching [[diff]]'s empty
    * before-set at 0), then the walk continues per-commit.
    *
    * Consecutive pure-append commits COALESCE into one multi-file scan
    * with per-row attribution joined from a broadcast file → commit
    * map, so an N-append window costs O(1) scan plans, not O(N); only
    * rewrite/MOR/replace commits pay a per-commit read.
    *
    * `withRowIds` (requires [[enableRowLineage]]) attaches each change
    * row's stable `_row_id` and switches update pairing from recorded
    * key columns to ROW IDENTITY — an UPDATE's or MERGE's pre/post
    * images share their id by construction (the rewrite materializes
    * them; merge's matched rows inherit the stored id), so the pairing
    * is exact even without unique keys, and carried-along survivor
    * rows cancel out of the feed exactly as in the value-level view.
    * Region replacements ([[overwriteWhere]]/[[replace]]) re-mint, so
    * their feed rows report delete(old id) + insert(new id) — the
    * identity-true view of a replacement. */
  def changeFeed(fromId: Long, toId: Long = Long.MaxValue,
      withRowIds: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val (sch, steps) = changeSteps(fromId, toId, withRowIds)
    if (steps.isEmpty) {
      val base =
        if (withRowIds) emptyDf(sch)
          .withColumn(GraftTable.RowIdCol, lit(null).cast("long"))
          .withColumn(GraftTable.RowSeqCol, lit(null).cast("long"))
        else emptyDf(sch)
      base
        .withColumn("_change_type", lit(null).cast("string"))
        .withColumn("_commit_snapshot_id", lit(null).cast("long"))
        .withColumn("_commit_timestamp", lit(null).cast("timestamp"))
    } else steps.map(st => st.label(st.rows)).reduce(_ unionByName _)
  }

  /** The NET row change over `(fromId, toId]`: the rows to delete from
    * and insert into `read(fromId)` to get `read(toId)` (as multisets),
    * tagged `_change_type` ∈ {`insert`, `delete`} and era-projected to
    * the `toId` schema — the changelog `get_diff` ships to a mirror.
    * The [[changeFeed]] walk's signed rows are netted ONCE for the whole
    * window ([[GraftTable.multisetNet]]): signed multiset sums are
    * associative, so this equals netting each commit and then the
    * window, without a per-commit shuffle or the update pairing the
    * net drops anyway. Transient in-window churn cancels. Expired cuts
    * refuse ([[HistoryExpiredException]]), as for the feed. */
  def netChanges(fromId: Long, toId: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, when}
    val (sch, steps) = changeSteps(fromId, toId, withRowIds = false)
    val cols = sch.fieldNames.toSeq
    if (steps.isEmpty) emptyDf(sch).withColumn("_change_type", lit("insert"))
    else GraftTable.multisetNet(
        steps.map(_.rows.select((cols :+ "__cf_s").map(col): _*))
          .reduce(_ unionByName _), cols, "__cf_s")
      .withColumn("_change_type",
        when(col("__cf_s") === 1L, lit("insert")).otherwise(lit("delete")))
      .drop("__cf_s")
  }

  /** The change walk [[changeFeed]] and [[netChanges]] share: the
    * `toId` schema and, per commit (or per coalesced run of pure
    * appends) in `(fromId, toId]`, the changed rows signed ±1 in
    * `__cf_s` (+1 inserted, −1 deleted) with the step's `label`, which
    * turns them into the feed's `_change_type`-tagged, commit-attributed
    * rows. A run's rows also carry their scan file in `__cf_f`, which
    * its label joins to the owning commit. */
  private def changeSteps(fromId: Long, toId: Long, withRowIds: Boolean)
      : (StructType, Seq[GraftTable.ChangeStep]) = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit,
      max => fmax, min => fmin, sum => fsum, when => fwhen}
    val snaps = log.snapshots
    val head = snaps.lastOption.map(_.snapshotId).getOrElse(throw noSnapshots)
    val to = if (toId == Long.MaxValue) head else toId
    require(to >= fromId, s"changeFeed range reversed: ($fromId, $to]")
    require(to <= head, s"snapshot $to of $name does not exist (head is $head)")
    def requireRetained(id: Long, side: String): Unit =
      if (id > 0 && !snaps.exists(_.snapshotId == id))
        throw new HistoryExpiredException(
          s"snapshot $id of $name expired — change feed $side unknowable")
    requireRetained(fromId, "base")
    requireRetained(to, "target")
    if (withRowIds) require(rowLineageEnabled(Some(to)),
      s"changeFeed(withRowIds) on $name needs row lineage enabled at the cut")
    val sch = schemaAsOfIn(snaps, Some(to))
    def relOf(abs: String): String = dir.relativize(Paths.get(abs)).toString
    // lineage-aware variants: identical file/tombstone plumbing, plus
    // the per-row id (physical for materialized files, arithmetic
    // first + row_index elsewhere)
    def readVis(fs: Seq[(String, Long)], dels: Seq[(Long, Tomb)]): DataFrame =
      if (withRowIds) readWithLineage(fs, dels, sch, snaps)
      else readWithDeletes(fs, dels, sch, snaps)
    def signed(df: DataFrame, sign: Long): DataFrame =
      df.withColumn("__cf_s", lit(sign))
    def stamp(df: DataFrame, s: Snapshot): DataFrame =
      df.withColumn("_commit_snapshot_id", lit(s.snapshotId))
        .withColumn("_commit_timestamp",
          lit(new java.sql.Timestamp(s.timestampMs)))
    // a one-sided commit's label: the sign is the change type
    def bySign(s: Snapshot)(rows: DataFrame): DataFrame =
      stamp(rows.withColumn("_change_type",
        fwhen(col("__cf_s") === 1L, lit("insert")).otherwise(lit("delete")))
        .drop("__cf_s"), s)
    // ----- CoW commits (and plain adds): file-set diff of ONE commit
    // s's added files as visible AT CUT s: readWithDeletes applies the
    // tombstones live at s era-scoped, so a rollback's re-added old
    // files stay inside their original tombstones' scope (via their
    // inherited tombSids) while fresh CoW/append files — postdating
    // every live delete — read raw at zero anti-join cost
    def visAdded(s: Snapshot): DataFrame = {
      val addedSet = s.addedFiles.toSet
      val fs = log.filesWithSnapOf(snaps, Some(s.snapshotId))
        .filter { case (a, _) => addedSet.contains(relOf(a)) }
      readVis(fs, log.eqDeletesOf(snaps, Some(s.snapshotId)))
    }
    // s's removed files as visible at the PREVIOUS cut (delete-applied:
    // rows already dead under a live tombstone must not resurface as
    // phantom deletes when their file is rewritten)
    def visRemoved(s: Snapshot, prevId: Long): DataFrame = {
      val remSet = s.removedFiles.toSet
      val fs = log.filesWithSnapOf(snaps, Some(prevId))
        .filter { case (a, _) => remSet.contains(relOf(a)) }
      readVis(fs, log.eqDeletesOf(snaps, Some(prevId)))
    }
    // A rewrite's label: net its two sides and pair delete+insert rows
    // sharing a recorded merge key into update pre/post images;
    // unpaired rows stay delete/insert. ONE PASS over each side: the
    // r14 shape (`d.exceptAll(i)` / `i.exceptAll(d)` feeding 4 key-set
    // joins) re-evaluated the visAdded/visRemoved scan plans —
    // themselves multi-join reads — up to 8× inside one feed plan (the
    // q108/q117 regression); here the ±1-signed sides cancel identical
    // rows (survivors that merely moved files) in one groupBy, and the
    // pairing is a key-window over the survivors. Null keys group
    // together, matching the old null-safe join. Under withRowIds the
    // pairing key is ROW IDENTITY itself — exact for id-preserving
    // rewrites (update, CoW delete, AND merge, whose matched rows
    // inherit the stored id); empty-on-purpose for the re-minting
    // region replacements (overwrite/replace).
    def paired(s: Snapshot)(rows: DataFrame): DataFrame = {
      val ks =
        if (withRowIds) Some(Seq(GraftTable.RowIdCol))
        else s.properties.get(GraftTable.DmlKeysKey)
          .map(_.split(',').toSeq.filter(_.nonEmpty))
          .filter(k => k.nonEmpty && k.forall(sch.fieldNames.contains))
      val net = GraftTable.multisetNet(rows,
        rows.columns.toSeq.filterNot(_ == "__cf_s"), "__cf_s")
      ks match {
        case None => bySign(s)(net)
        case Some(keys) =>
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(keys.map(col): _*)
          stamp(net
            .withColumn("__cf_hi",
              fmax(fwhen(col("__cf_s") === 1L, 1).otherwise(0)).over(w))
            .withColumn("__cf_hd",
              fmax(fwhen(col("__cf_s") === -1L, 1).otherwise(0)).over(w))
            .withColumn("_change_type",
              fwhen(col("__cf_s") === 1L,
                fwhen(col("__cf_hd") === 1, lit("update_postimage"))
                  .otherwise(lit("insert")))
              .otherwise(
                fwhen(col("__cf_hi") === 1, lit("update_preimage"))
                  .otherwise(lit("delete"))))
            .drop("__cf_s", "__cf_hi", "__cf_hd"), s)
      }
    }
    def cowChanges(s: Snapshot, prevId: Long): Option[GraftTable.ChangeStep] =
      (s.addedFiles.nonEmpty, s.removedFiles.nonEmpty) match {
        case (true, false) =>
          Some(GraftTable.ChangeStep(signed(visAdded(s), 1L), bySign(s)))
        case (false, true) =>
          Some(GraftTable.ChangeStep(signed(visRemoved(s, prevId), -1L), bySign(s)))
        case (true, true) =>
          Some(GraftTable.ChangeStep(signed(visRemoved(s, prevId), -1L)
            .unionByName(signed(visAdded(s), 1L)), paired(s)))
        case (false, false) => None
      }
    // ----- MOR delete commits: the rows the tombstone killed
    def killedBy(s: Snapshot): Option[GraftTable.ChangeStep] = {
      val delsAtS = log.eqDeletesOf(snaps, Some(s.snapshotId))
      val mine = delsAtS.filter(_._1 == s.snapshotId).map(_._2)
      if (mine.isEmpty) return None
      val priorDels = delsAtS.filterNot(_._1 == s.snapshotId)
      val files = log.filesWithSnapOf(snaps, Some(s.snapshotId))
      lazy val statsByFile = snaps.flatMap(_.stats).toMap
      // alive-at-commit-time rows of `fs`: prior tombstones applied,
      // this commit's own NOT — exactly the set its delete selects from
      def aliveAt(fs: Seq[(String, Long)]): DataFrame =
        readVis(fs, priorDels)
      // stat-range prune the visible set by the sidecar's per-column
      // bounds — sound only for range-typed, NULL-free key columns
      // (stats skip nulls; same guard as the merge probe)
      def pruneByKeys(kd: DataFrame): Seq[(String, Long)] = {
        val cols = kd.schema.fields.toSeq
        val rangeable = cols.forall(f => f.dataType match {
          case _: org.apache.spark.sql.types.NumericType => true
          case org.apache.spark.sql.types.TimestampType |
               org.apache.spark.sql.types.TimestampNTZType => true
          case _ => false
        })
        if (!rangeable) return files
        val aggs = cols.flatMap(f => Seq(fmin(col(f.name)), fmax(col(f.name)),
          fsum(fwhen(col(f.name).isNull, 1L).otherwise(0L))))
        val r = kd.agg(aggs.head, aggs.tail: _*).collect().head
        val bounds = cols.indices.map(i => (r.get(i * 3), r.get(i * 3 + 1),
          if (r.isNullAt(i * 3 + 2)) 0L else r.getLong(i * 3 + 2)))
        if (bounds.exists(b => b._1 == null || b._3 > 0)) return files
        files.filter { case (a, _) =>
          statsByFile.get(relOf(a)).forall(st =>
            cols.indices.forall(i => st.mayContain(cols(i).name,
              Some(bounds(i)._1), Some(bounds(i)._2))))
        }
      }
      val parts = mine.map {
        case Tomb.Keys(p) =>
          val kd = spark.read.parquet(p)
          val names = kd.columns.toSeq
          val kAl = kd.select(names.map(c => col(c).as(s"__cfk_$c")): _*)
          val src = aliveAt(pruneByKeys(kd))
          src.join(kAl,
            names.map(c => src(c) <=> kAl(s"__cfk_$c")).reduce(_ && _),
            "left_semi")
        case Tomb.Pred(sql) =>
          // DELETE WHERE kills rows where the predicate is TRUE (NULL
          // keeps) — mirror of readWithDeletes' survivor filter
          aliveAt(files).filter(coalesce(expr(sql), lit(false)))
        case Tomb.Pos(sidecars, namedRels) =>
          // positions were probed delete-applied, so they address
          // exactly-live rows: no prior-tombstone application needed.
          // Per-file scans make the row id trivial here: physical
          // column for materialized files, first + position otherwise.
          val sidecarDf = spark.read.parquet(sidecars: _*)
          lazy val firsts = SnapshotLog.rowIdFirsts(snaps)
          lazy val matRels = SnapshotLog.rowIdMatRels(snaps)
          lazy val seqs = SnapshotLog.rowSeqOf(snaps)
          val schPlus = StructType(sch.fields :+
            org.apache.spark.sql.types.StructField(GraftTable.RowIdCol,
              org.apache.spark.sql.types.LongType) :+
            org.apache.spark.sql.types.StructField(GraftTable.RowSeqCol,
              org.apache.spark.sql.types.LongType))
          files.filter { case (a, _) => namedRels.contains(relOf(a)) }
            .map { case (a, sid) =>
              val rel = relOf(a)
              val one0 =
                if (!withRowIds)
                  readFilesProjected(Seq((a, sid)), snaps, sch, Some("__cf_pos"))
                else if (matRels.contains(rel))
                  readFilesProjected(Seq((a, sid)), snaps, schPlus, Some("__cf_pos"))
                else readFilesProjected(Seq((a, sid)), snaps, sch, Some("__cf_pos"))
                  .withColumn(GraftTable.RowIdCol,
                    lit(firsts.getOrElse(rel, sys.error(
                      s"row lineage: no first-row-id for $rel"))) +
                      col("__cf_pos").cast("long"))
                  .withColumn(GraftTable.RowSeqCol,
                    lit(seqs.getOrElse(rel, sys.error(
                      s"row lineage: no virtual seq for $rel"))))
              val dead = sidecarDf.filter(col("file") === rel)
                .select(col("pos").cast("long").as("__cf_pos"))
              one0.join(dead, Seq("__cf_pos"), "left_semi").drop("__cf_pos")
            }.reduceOption(_ unionByName _).getOrElse {
              if (withRowIds) emptyDf(sch)
                .withColumn(GraftTable.RowIdCol, lit(null).cast("long"))
                .withColumn(GraftTable.RowSeqCol, lit(null).cast("long"))
              else emptyDf(sch)
            }
      }
      Some(GraftTable.ChangeStep(signed(parts.reduce(_ unionByName _), -1L),
        bySign(s)))
    }
    val window = snaps.filter(s => s.snapshotId > fromId && s.snapshotId <= to)
    // ----- a maximal RUN of consecutive pure-append commits reads as ONE
    // multi-file scan instead of one stamped read per commit: no delete
    // or rewrite commit sits inside the run (by construction), so the
    // tombstone set is constant across it and the union of per-commit
    // reads equals one read of all the run's files at the run's last
    // cut. Per-row commit attribution comes from a broadcast
    // rel-path → (snapshot id, timestamp) map joined on the
    // codegen-derived scan file name — the same mechanism as the
    // lineage firsts join. This keeps an N-append feed window at O(1)
    // scans instead of O(N) plans+unions (the r14 q108/q117 regression).
    // deleteFiles.isEmpty is defense-in-depth: only eqdelete/posdelete
    // commits carry tombstones today, but an append-named commit that
    // ever did would break the constant-tombstone-set invariant the
    // run coalescer relies on — pin it here, not in reviewers' heads
    def pureAppend(s: Snapshot): Boolean =
      (s.operation == "create" || s.operation == "append" ||
        s.operation == "publish") &&
        s.removedFiles.isEmpty && s.deleteFiles.isEmpty &&
        s.addedFiles.nonEmpty
    def runInserts(run: Seq[Snapshot]): GraftTable.ChangeStep = {
      val lastId = run.last.snapshotId
      val owner: Map[String, Snapshot] = run.iterator
        .flatMap(s => s.addedFiles.iterator.map(_ -> s)).toMap
      val fs = log.filesWithSnapOf(snaps, Some(lastId))
        .filter { case (a, _) => owner.contains(relOf(a)) }
      val dels = log.eqDeletesOf(snaps, Some(lastId))
      val tagged =
        if (withRowIds) readWithLineage(fs, dels, sch, snaps,
          tagFile = Some("__cf_f"))
        else readWithDeletes(fs, dels, sch, snaps, tagFile = Some("__cf_f"))
      GraftTable.ChangeStep(signed(tagged, 1L), attributed(owner))
    }
    def attributed(owner: Map[String, Snapshot])(rows: DataFrame): DataFrame = {
      import org.apache.spark.sql.functions.{broadcast, concat, raise_error, url_decode}
      import org.apache.spark.sql.types.{LongType, StringType, StructField, TimestampType}
      val dirAbs = dir.toAbsolutePath.toString
      val mapDf = spark.createDataFrame(
        spark.sparkContext.parallelize(owner.toSeq.sortBy(_._1).map {
          case (rel, s) => org.apache.spark.sql.Row(rel, s.snapshotId,
            new java.sql.Timestamp(s.timestampMs)) }, 1),
        org.apache.spark.sql.types.StructType(Seq(
          StructField("__cf_rel", StringType),
          StructField("__cf_sid", LongType),
          StructField("__cf_ts", TimestampType))))
      val withRel = rows
        .withColumn("__cf_dir", lit(dirAbs))
        .withColumn("__cf_dec", url_decode(col("__cf_f")))
        .withColumn("__cf_rel", expr(
          s"substring(__cf_dec, instr(__cf_dec, __cf_dir) + ${dirAbs.length + 1})"))
      val outCols = sch.fieldNames.toSeq ++
        (if (withRowIds) Seq(GraftTable.RowIdCol, GraftTable.RowSeqCol)
         else Nil) ++
        Seq("_change_type", "_commit_snapshot_id", "_commit_timestamp")
      // LEFT join + raise_error, same stance as the lineage map join:
      // an unattributable row must fail the feed loudly, never vanish
      withRel.join(broadcast(mapDf), Seq("__cf_rel"), "left")
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_snapshot_id",
          fwhen(col("__cf_sid").isNull, raise_error(concat(
            lit(s"change feed of $name: scan path resolved to no " +
              "commit in the append run: "), col("__cf_f"))))
            .otherwise(col("__cf_sid")))
        .withColumn("_commit_timestamp", col("__cf_ts"))
        .select(outCols.map(col): _*)
    }
    def oneCommit(s: Snapshot): Option[GraftTable.ChangeStep] = {
      val idx = snaps.indexWhere(_.snapshotId == s.snapshotId)
      val prevId = if (idx > 0) snaps(idx - 1).snapshotId else 0L
      s.operation match {
        case "create" | "append" | "publish" | "merge" | "delete" |
             "update" | "overwrite" | "replace" | "rollback" =>
          cowChanges(s, prevId)
        case "eqdelete" | "posdelete" => killedBy(s)
        // logical no-ops: schema/layout maintenance moved or re-listed
        // bytes but changed no visible row ("properties" = user
        // TBLPROPERTIES delta, zero files by construction)
        case "evolve" | "compact" | "rewrite" | "posrewrite" |
             "properties" => None
        case other => throw new IllegalStateException(
          s"changeFeed of $name: unknown operation '$other' at snapshot " +
            s"${s.snapshotId} — refusing to silently skip")
      }
    }
    // ----- BOOTSTRAP on expired history: a window opening at 0 on a
    // table whose early commits were expired starts at the severing
    // full-set rewrite (expiry only severs at a "compact"; a genuine
    // first commit is never one — compact/checkpoint require a head).
    // Without this the baseline rows would silently vanish (the compact
    // walks as a zero-row maintenance commit); emit its delete-applied
    // visible set as inserts attributed to it, matching diff(0, …)'s
    // empty-before-set behavior.
    val baseline: Option[GraftTable.ChangeStep] = snaps.headOption
      .filter(f => fromId == 0 && to >= f.snapshotId &&
        f.operation == "compact")
      .map(f => GraftTable.ChangeStep(signed(visAdded(f), 1L), bySign(f)))
    val steps = Seq.newBuilder[GraftTable.ChangeStep]
    steps ++= baseline
    var pending = List.empty[Snapshot]
    def flush(): Unit = {
      pending.reverse match {
        case Nil =>
        case one :: Nil => steps ++= oneCommit(one)
        case run => steps += runInserts(run)
      }
      pending = Nil
    }
    window.foreach { s =>
      if (pureAppend(s)) pending ::= s
      else { flush(); steps ++= oneCommit(s) }
    }
    flush()
    (sch, steps.result())
  }

  // ------------------------------------------------------------ lineage
  // ROW LINEAGE (the Iceberg v3 row-id contract): every row gets a
  // STABLE long `_row_id`, assigned at commit time and surviving
  // maintenance — the identity an incremental consumer tracks rows by.
  // Ids are virtual (first-row-id per file + _metadata.row_index, zero
  // storage) until a rewrite MATERIALIZES them as a physical column.

  /** Turn on row lineage: one metadata-only commit assigns every
    * visible file its first row id (ids exist retroactively, no
    * rewrite) and seeds the table counter. From here on every
    * data-adding commit assigns ids automatically:
    *  - [[append]]/[[addFiles]]/[[publishBranch]] rows get FRESH ids;
    *  - merge-on-read deletes change no ids (no rewrite);
    *  - [[compact]], [[compactSmall]], [[updateWhere]] and
    *    [[deleteWhere]] PRESERVE ids by materializing them into the
    *    rewritten files ([[checkpoint]] carries the bookkeeping across
    *    the expiry horizon);
    *  - [[merge]]/[[upsert]] preserve too (the v3 MERGE contract):
    *    carried-along survivors and MATCHED updates keep the stored
    *    row's id; only genuine inserts mint fresh ones;
    *  - [[overwriteWhere]]/[[overwritePartitions]] re-mint the
    *    REPLACED REGION's rows (a replacement is new identity by
    *    definition) while affected-file survivors OUTSIDE the region
    *    keep theirs; [[replace]] (a whole-table overwrite) re-mints
    *    everything. */
  def enableRowLineage(): Snapshot = {
    // CAS on the head like every multi-step commit: an append racing
    // the enablement would otherwise land a visible file the retro-
    // assignment never saw (it can't auto-assign — the counter isn't
    // committed yet), permanently holing every future lineage read
    publish(s"enableRowLineage on $name") { head =>
      val snaps = log.snapshots
      require(SnapshotLog.rowIdNextOf(snaps).isEmpty,
        s"row lineage already enabled on $name")
      require(!schema.fieldNames.contains(GraftTable.RowIdCol),
        s"$name has a real column named ${GraftTable.RowIdCol}")
      val statsByFile = snaps.flatMap(_.stats).toMap
      val visible = log.filesWithSnapOf(snaps, Some(head.snapshotId))
        .map { case (a, _) => dir.relativize(Paths.get(a)).toString }.sorted
      var n = 0L
      val entries = visible.map { f =>
        val rows = statsByFile.get(f).map(_.rows).getOrElse(-1L)
        require(rows >= 0, s"enableRowLineage on $name: file $f has no " +
          "recorded row count (pre-stats manifest) — compact() first")
        val e = (SnapshotLog.RowIdFirstPrefix + f) -> n.toString
        n += rows
        e
      }
      Some(Staged("evolve", Seq.empty, head.schemaJson,
        properties = entries.toMap + (SnapshotLog.RowIdNextKey -> n.toString)))
    }.merge
  }

  /** Is row lineage on (at the cut)? */
  def rowLineageEnabled(asOf: Option[Long] = None): Boolean = {
    val snaps = log.snapshots
    val upTo = asOf.map(c => snaps.filter(_.snapshotId <= c)).getOrElse(snaps)
    SnapshotLog.rowIdNextOf(upTo).nonEmpty
  }

  /** [[read]] plus the stable `_row_id` column. */
  def readLineage(asOf: Option[Long] = None): DataFrame = {
    val snaps = log.snapshots
    require(rowLineageEnabled(asOf),
      s"row lineage not enabled on $name (enableRowLineage()) at this cut")
    readWithLineage(log.filesWithSnapOf(snaps, asOf),
      log.eqDeletesOf(snaps, asOf), schemaAsOfIn(snaps, asOf), snaps)
  }

  /** `files` read delete-applied with `_row_id` AND
    * `_last_updated_sequence_number` attached: files with PHYSICAL
    * lineage columns (materializing rewrites) read them; everything
    * else computes `first_row_id + _metadata.row_index` and the
    * file-level virtual seq through one broadcast join against the
    * manifest-recorded firsts/seqs. The rel-path join key derives from
    * the decoded scan file name row-side with codegen'd builtins
    * (url_decode/instr/substring) — no UDF. */
  private def readWithLineage(filesWithSnap: Seq[(String, Long)],
      dels: Seq[(Long, Tomb)], sch: StructType,
      snaps: Seq[Snapshot], tagFile: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, expr, lit, url_decode}
    import org.apache.spark.sql.types.{LongType, StructField}
    val outCols = sch.fieldNames.toSeq :+
      GraftTable.RowIdCol :+ GraftTable.RowSeqCol
    val matRels = SnapshotLog.rowIdMatRels(snaps)
    val (mat, plain) = filesWithSnap.partition { case (a, _) =>
      matRels.contains(dir.relativize(Paths.get(a)).toString) }
    val parts = Seq.newBuilder[DataFrame]
    if (plain.nonEmpty) {
      val firsts = SnapshotLog.rowIdFirsts(snaps)
      val seqs = SnapshotLog.rowSeqOf(snaps)
      val plainRels = plain.map { case (a, _) =>
        dir.relativize(Paths.get(a)).toString }
      val missing = plainRels.filterNot(firsts.contains)
      require(missing.isEmpty, s"row lineage on $name: no first-row-id " +
        s"recorded for ${missing.take(3).mkString(", ")} — the read " +
        "touches files that left the visible set BEFORE lineage was " +
        "enabled (retro-assignment covers only files visible at the " +
        "enablement commit); start the window at or after it")
      val tagged = readWithDeletes(plain, dels, sch, snaps,
        tagFile = Some("__rl_f"), posTag = Some("__rl_p"))
      val dirAbs = dir.toAbsolutePath.toString
      val mapDf = spark.createDataFrame(
        spark.sparkContext.parallelize(plainRels.distinct.map(r =>
          org.apache.spark.sql.Row(r, firsts(r), seqs.getOrElse(r,
            sys.error(s"row lineage on $name: no virtual seq for $r")))), 1),
        org.apache.spark.sql.types.StructType(Seq(
          StructField("__rl_rel", org.apache.spark.sql.types.StringType),
          StructField("__rl_first", LongType),
          StructField("__rl_seq", LongType))))
      val withRel = tagged
        .withColumn("__rl_dir", lit(dirAbs))
        .withColumn("__rl_dec", url_decode(col("__rl_f")))
        .withColumn("__rl_rel", expr(
          s"substring(__rl_dec, instr(__rl_dec, __rl_dir) + ${dirAbs.length + 1})"))
      // LEFT join + raise_error, not an inner join: if the row-side rel
      // derivation ever disagrees with the manifest keys (a path-
      // rendering change, a symlinked scratch dir), rows must FAIL the
      // read loudly instead of silently vanishing from it
      parts += withRel.join(broadcast(mapDf), Seq("__rl_rel"), "left")
        .withColumn(GraftTable.RowIdCol,
          org.apache.spark.sql.functions.when(col("__rl_first").isNull,
            org.apache.spark.sql.functions.raise_error(
              org.apache.spark.sql.functions.concat(
                lit(s"row lineage on $name: scan path resolved to no " +
                  "manifest entry: "), col("__rl_f"))))
            .otherwise(col("__rl_first") + col("__rl_p").cast("long")))
        .withColumn(GraftTable.RowSeqCol, col("__rl_seq"))
        .select((outCols.map(col) ++
          tagFile.map(t => col("__rl_f").as(t))): _*)
    }
    if (mat.nonEmpty) {
      val schPlus = StructType(sch.fields :+
        StructField(GraftTable.RowIdCol, LongType) :+
        StructField(GraftTable.RowSeqCol, LongType))
      parts += readWithDeletes(mat, dels, schPlus, snaps, tagFile = tagFile)
        .select((outCols ++ tagFile.toSeq).map(col): _*)
    }
    parts.result().reduceOption(_ unionByName _).getOrElse {
      val e = emptyDf(sch)
        .withColumn(GraftTable.RowIdCol, lit(null).cast(LongType))
        .withColumn(GraftTable.RowSeqCol, lit(null).cast(LongType))
      tagFile.map(t => e.withColumn(t, lit(null).cast("string"))).getOrElse(e)
    }
  }

  /** `df` plus freshly minted DENSE ids [start, start + count): RDD
    * zipWithIndex — one partition-size count pass, then row-local
    * assignment. Scales with the input (no single-partition window);
    * used by the DML paths that mint identities for incoming rows. */
  private def withMintedIds(df: DataFrame, start: Long): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField}
    val sch2 = StructType(df.schema.fields :+
      StructField(GraftTable.RowIdCol, LongType, nullable = false))
    val rdd = df.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (start + i)) }
    spark.createDataFrame(rdd, sch2)
  }

  /** Commit properties of a MATERIALIZING (id-carrying) rewrite: the
    * physical-ids flag plus the counter advanced past whatever the
    * commit minted — read back from the written files' max id (one
    * column-pruned scan of the NEW files), never regressing below the
    * pre-commit next (a rewrite touching only old low-id files must
    * not make a later append collide). */
  private def lineageCommitProps(files: Seq[String], next0: Long)
      : Map[String, String] = {
    import org.apache.spark.sql.functions.{col, max => fmax}
    val maxAssigned =
      if (files.isEmpty) next0 - 1
      else {
        val r = spark.read.parquet(files.map(f => dir.resolve(f).toString): _*)
          .agg(fmax(col(GraftTable.RowIdCol))).collect().head
        if (r.isNullAt(0)) next0 - 1 else r.getLong(0)
      }
    Map(SnapshotLog.RowIdMaterializedKey -> "1",
      SnapshotLog.RowIdNextKey -> math.max(next0, maxAssigned + 1).toString)
  }

  /** Planning-time file pruning: read only the files whose recorded
    * [min, max] for `column` intersects [lower, upper] (both bounds
    * inclusive, either optional). Files without stats are read
    * conservatively; the caller still applies the row-level filter.
    * This is the Iceberg metadata-skip path — O(manifest) work replaces
    * an O(table) scan when the table is clustered on `column`. */
  def readWhere(column: String, lower: Option[Any], upper: Option[Any],
      asOf: Option[Long] = None): DataFrame =
    readWhereAll(Seq((column, lower, upper)), asOf)

  /** COUNT(*) answered from manifest metadata ALONE — zero data files
    * opened, zero Spark jobs: the sum of per-file row counts over the
    * visible set (every commit path records them, [[footerStats]]).
    * The Iceberg metadata-aggregate trick: at 100 TB a count goes from
    * a full scan to an O(manifest) driver read. Sound across
    * upsert/delete/compact because resolution IS the visible-set fold
    * (a removed file's rows vanish with its visibility). Returns None
    * — caller falls back to a scan — when any visible file predates
    * row-count recording. */
  def metaCount(asOf: Option[Long] = None): Option[Long] = {
    val snaps = log.snapshots
    val dels = log.eqDeletesOf(snaps, asOf)
    // key/predicate tombstones hide an UNKNOWN number of rows — fall
    // back; PURE position tombstones are exact from metadata (each
    // commit recorded its per-file position counts, positions are
    // never duplicated across commits, and a named file that was since
    // rewritten left the visible set with its positions)
    val pos = dels.collect { case (sid, Tomb.Pos(_, named)) => (sid, named) }
    if (pos.size != dels.size) return None
    val statsByFile = snaps.flatMap(_.stats).toMap
    val visible = log.dataFilesOf(snaps, asOf)
      .map(a => dir.relativize(Paths.get(a)).toString)
    val counts = visible.map(f => statsByFile.get(f).map(_.rows).getOrElse(-1L))
    if (counts.exists(_ < 0)) return None
    val visibleSet = visible.toSet
    val bySid = snaps.map(s => s.snapshotId -> s).toMap
    var deducted = 0L
    pos.foreach { case (sid, named) =>
      named.intersect(visibleSet).foreach { f =>
        GraftTable.posCountOf(snaps, bySid, sid, f) match {
          case Some(n) => deducted += n
          case None => return None // pre-count-recording commit
        }
      }
    }
    Some(counts.sum - deducted)
  }

  /** MIN/MAX of a numeric/timestamp column from manifest stats alone —
    * the same zero-scan shape as [[metaCount]]. Per-file min/max are
    * exact (collected from the committed rows), so their fold over the
    * visible set IS the table aggregate; empty files are vacuous and
    * skipped. None — fall back to a scan — when any visible non-empty
    * file lacks recorded bounds for the column (not collected, all-NULL
    * in that file, or pre-upgrade manifests); values above 2^53 round
    * directionally in the stats, so this is for exact-representable
    * domains (keys, timestamps), not astronomic decimals. */
  def metaMinMax(column: String,
      asOf: Option[Long] = None): Option[(Double, Double)] = {
    val snaps = log.snapshots
    // a tombstoned extremum would surface as a stale bound — fall back
    if (log.eqDeletesOf(snaps, asOf).nonEmpty) return None
    val statsByFile = snaps.flatMap(_.stats).toMap
    val visible = log.dataFilesOf(snaps, asOf)
      .map(a => dir.relativize(Paths.get(a)).toString)
    val bounds = visible.flatMap { f =>
      statsByFile.get(f) match {
        case Some(st) if st.rows == 0 => None // vacuous: no rows, no bounds
        case Some(st) =>
          (st.numMin.get(column), st.numMax.get(column)) match {
            case (Some(mn), Some(mx)) => Some(Some((mn, mx)))
            case _ => Some(None) // unknown bounds on a non-empty file
          }
        case None => Some(None)
      }
    }
    if (bounds.isEmpty || bounds.contains(None)) None
    else {
      val known = bounds.flatten
      Some((known.map(_._1).min, known.map(_._2).max))
    }
  }

  /** Multi-predicate file pruning: keep only files whose stats may
    * satisfy EVERY (column, lower, upper) conjunct. With a Z-order
    * clustered table ([[ZOrder.cluster]]) each file covers a small
    * hyper-rectangle in every clustered dimension, so a conjunction
    * prunes multiplicatively — the layout that makes two-column
    * range queries skip at file granularity on a single table copy.
    * Same contract as [[readWhere]]: the caller still applies the
    * row-level filters. */
  def readWhereAll(preds: Seq[(String, Option[Any], Option[Any])],
      asOf: Option[Long] = None): DataFrame =
    readWhereAllImpl(preds, asOf, None)

  /** (kept files, visible files) of the last stats-pruned read planned
    * on THIS handle — the witness that a predicate-driven scan or DML
    * probe planned sub-full-scan. */
  @volatile var lastStatProbe: Option[(Long, Long)] = None

  /** SARGABLE range constraints of `cond` — the manifest-evaluator
    * shape (Iceberg converts DML predicates to expressions over file
    * stats the same way): top-level AND conjuncts of the form
    * `<column> (=|<=>|<|<=|>|>=) <literal>` (either orientation) map
    * to (column, lower, upper) triples in the stats writer's value
    * conventions; everything else contributes NOTHING (never prunes).
    * Sound per conjunct: a file where one conjunct of an AND is
    * impossible cannot hold a matching row; strict comparisons prune
    * with inclusive bounds (keeps boundary files); temporal literals
    * floor micros→millis, sound both directions because floor is
    * monotone; NULL literals and non-range types are skipped. */
  private def sargableBounds(cond: org.apache.spark.sql.Column,
      sch: StructType): Seq[(String, Option[Any], Option[Any])] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    val pred =
      try emptyDf(sch).filter(cond).queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      } catch { case _: Exception => None }
    def ext(l: Literal): Option[Any] =
      Option(l.value).flatMap(GraftTable.boundOf(_, l.dataType))
    // the analyzer leaves `Cast(Literal)` unfolded (constant folding is
    // an optimizer rule) — fold any foldable side here; unwrap a
    // NUMERIC-upcast Cast around the attribute (comparing an int column
    // to a long literal casts the COLUMN), sound because widening
    // preserves order and stats compare as doubles either way
    object Lit {
      def unapply(e: Expression): Option[Literal] =
        if (e.foldable)
          scala.util.Try(Literal.create(e.eval(null), e.dataType)).toOption
        else None
    }
    object Attr {
      def unapply(e: Expression): Option[AttributeReference] = e match {
        case a: AttributeReference => Some(a)
        // ONLY the analyzer's implicit widening (canUpCast — lossless,
        // monotone) may unwrap: a user-written NARROWING cast like
        // cast(price AS INT) = 5 matches raw values the bound excludes
        // (5.2 truncates to 5), and unwrapping it would prune files
        // that hold matching rows — silent row loss in DML
        case Cast(a: AttributeReference, dt, _, _)
            if Cast.canUpCast(a.dataType, dt) &&
              a.dataType.isInstanceOf[NumericType] &&
              !a.dataType.isInstanceOf[DecimalType] &&
              dt.isInstanceOf[NumericType] &&
              !dt.isInstanceOf[DecimalType] => Some(a)
        case _ => None
      }
    }
    def one(e: Expression): Option[(String, Option[Any], Option[Any])] =
      e match {
        case EqualTo(Attr(a), Lit(l)) => ext(l).map(v => (a.name, Some(v), Some(v)))
        case EqualTo(Lit(l), Attr(a)) => ext(l).map(v => (a.name, Some(v), Some(v)))
        case EqualNullSafe(Attr(a), Lit(l)) => ext(l).map(v => (a.name, Some(v), Some(v)))
        case EqualNullSafe(Lit(l), Attr(a)) => ext(l).map(v => (a.name, Some(v), Some(v)))
        case GreaterThan(Attr(a), Lit(l)) => ext(l).map(v => (a.name, Some(v), None))
        case GreaterThanOrEqual(Attr(a), Lit(l)) => ext(l).map(v => (a.name, Some(v), None))
        case LessThan(Attr(a), Lit(l)) => ext(l).map(v => (a.name, None, Some(v)))
        case LessThanOrEqual(Attr(a), Lit(l)) => ext(l).map(v => (a.name, None, Some(v)))
        case GreaterThan(Lit(l), Attr(a)) => ext(l).map(v => (a.name, None, Some(v)))
        case GreaterThanOrEqual(Lit(l), Attr(a)) => ext(l).map(v => (a.name, None, Some(v)))
        case LessThan(Lit(l), Attr(a)) => ext(l).map(v => (a.name, Some(v), None))
        case LessThanOrEqual(Lit(l), Attr(a)) => ext(l).map(v => (a.name, Some(v), None))
        case _ => None
      }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case o => Seq(o)
    }
    pred.toSeq.flatMap(conjuncts).flatMap(one)
      .filter { case (c, _, _) => sch.fieldNames.contains(c) }
  }

  /** The DML file-target probe, stats-pruned when the predicate has
    * sargable conjuncts: a range UPDATE/DELETE on a clustered column
    * plans over the intersecting files, not the table. Falls back to
    * the full tagged read (recording a no-prune probe) otherwise. */
  private def probeTagged(cond: org.apache.spark.sql.Column,
      headId: Long, sch: StructType): DataFrame = {
    val bounds = sargableBounds(cond, sch)
    if (bounds.isEmpty) {
      lastStatProbe = None
      readTagged(Some(headId), "__f")
    } else readWhereAllImpl(bounds, Some(headId), Some("__f"))
  }

  private def readWhereAllImpl(preds: Seq[(String, Option[Any], Option[Any])],
      asOf: Option[Long], tagFile: Option[String]): DataFrame = {
    // one atomic log capture for stats, file set, and schema — a
    // commit landing mid-call can no longer leave the stats map
    // missing files the listing already sees (which would silently
    // disable pruning for those files), and the manifest directory is
    // listed/parsed once instead of three times
    val snaps = log.snapshots
    val cut = asOf.getOrElse(Long.MaxValue)
    val statsByFile = snaps.filter(_.snapshotId <= cut)
      .flatMap(s => s.stats).toMap
    val sch = schemaAsOfIn(snaps, asOf) // consistent with read(asOf) across evolutions
    // hidden-partitioning probes: each range conjunct also checks the
    // file's partition-space entries for every monotone transform era
    // (files without an era's entry conservatively match)
    val allPreds = preds.flatMap { case p @ (c, lo, hi) =>
      p +: partitionProbes(sch, c, lo, hi)
    }
    val all = log.filesWithSnapOf(snaps, asOf)
    val kept = all.filter { case (abs, _) =>
      val rel = dir.relativize(java.nio.file.Paths.get(abs)).toString
      // rows == 0 ⇒ the file can contain nothing (schema-only creates,
      // rewrites that emptied a partition) — skip unconditionally
      statsByFile.get(rel).forall(st => st.rows != 0 &&
        allPreds.forall { case (c, lo, hi) => st.mayContain(c, lo, hi) })
    }
    lastStatProbe = Some((kept.size.toLong, all.size.toLong))
    // live merge-on-read tombstones apply after pruning (anti-joins
    // only ever remove rows, so pruning soundness is unaffected)
    readWithDeletes(kept, log.eqDeletesOf(snaps, asOf), sch, snaps, tagFile)
  }

  /** POINT-SET file pruning: keep only files whose stats may contain
    * at least ONE of `values` in `column` — the batch-key-lookup shape
    * (fetch these 10k doc ids out of a 100 TB table). A range prune
    * over [min(values), max(values)] keeps every file the span
    * straddles; per-value probing keeps only files whose recorded
    * range actually contains some requested point, which on a
    * clustered/Z-ordered layout is the difference between reading the
    * whole key span and reading |values| files. Same contract as
    * [[readWhere]]: row-level filtering (an IN predicate, pushed to
    * the parquet scan by Catalyst) remains the caller's job.
    * Cost: O(files × |values|) driver-side stat probes — sort-based
    * per-file pruning keeps it cheap for big value sets; cluster the
    * table on `column` for the layout that makes the skips real. */
  def readWhereIn(column: String, values: Seq[Any],
      asOf: Option[Long] = None): DataFrame = {
    require(values.nonEmpty, "readWhereIn needs at least one value")
    val snaps = log.snapshots
    val cut = asOf.getOrElse(Long.MaxValue)
    val statsByFile = snaps.filter(_.snapshotId <= cut)
      .flatMap(s => s.stats).toMap
    val sch = schemaAsOfIn(snaps, asOf)
    // hidden-partitioning point probes: equality maps through EVERY
    // transform era on this column — including bucket, the transform
    // range pruning can't use; a file survives for a value only when
    // the raw stats AND all its partition-era entries may contain it
    val hist = partitionSpecHistory.filter(_.column == column)
    val dtOpt = sch.fields.find(_.name == column).map(_.dataType)
    val probes: Seq[(Any, Seq[(String, Any)], Option[Long])] = values.map { v =>
      val mapped = dtOpt match {
        case Some(dt) => hist.filter(_.recordable(dt)).flatMap(f =>
          scala.util.Try(f.statName -> f.apply(v, dt)).toOption)
        case None => Nil
      }
      // bloom probe: the driver-side xxhash64 twin of the recorded sketch
      val h = dtOpt.flatMap(dt => xxhashOf(v, dt))
      (v, mapped, h)
    }
    val kept = log.filesWithSnapOf(snaps, asOf).filter { case (abs, _) =>
      val rel = dir.relativize(java.nio.file.Paths.get(abs)).toString
      statsByFile.get(rel).forall(st => st.rows != 0 &&
        probes.exists { case (v, mapped, h) =>
          st.mayContain(column, Some(v), Some(v)) &&
            mapped.forall { case (nm, pv) =>
              st.mayContain(nm, Some(pv), Some(pv)) } &&
            h.forall(st.bloomMayContain(column, _))
        })
    }
    readWithDeletes(kept, log.eqDeletesOf(snaps, asOf), sch, snaps)
  }

  /** SHALLOW CLONE (Delta's CLONE shape): a new independent table over
    * the CURRENT visible file set, materialized by hardlinks (copy
    * fallback cross-device) — zero data rewritten, O(files) metadata,
    * and the clone then evolves separately (its commits never touch
    * this table's files; hardlinked bytes stay immutable under both
    * tables' append-only discipline, and each side's GC only ever
    * unlinks its own directory entries). Column stats and blooms ride
    * along (remapped to the clone's paths), so pruning works on the
    * clone immediately. The dev/test-fork tool next to [[createBranch]]
    * (which stays within ONE table's history).
    *
    * LIVE tombstones CARRY into the clone (since r14 — the checkpoint
    * carry mechanics on the fresh log): key sidecars hard-link,
    * predicate SQL rides the create commit, position sidecars REWRITE
    * with the clone's remapped file names (O(positions), dangling
    * entries pruned for free), and every cloned file records its
    * tombstone-era sid so scoping is preserved verbatim. The create
    * commit pins itself at the SOURCE's head id ([[Staged.atLeastId]]),
    * so the clone's future appends land ABOVE every carried sid and
    * escape the carried deletes by sequence — exactly as they would
    * have on the source. */
  def cloneTo(dstDir: Path, newName: String): GraftTable = {
    val snaps = log.snapshots
    val head = snaps.lastOption.getOrElse(throw noSnapshots)
    val statsByFile = snaps.flatMap(_.stats).toMap
    val dst = new GraftTable(newName, dstDir.toAbsolutePath.normalize(), spark)
    require(dst.log.head.isEmpty, s"clone target $newName already exists")
    Files.createDirectories(dstDir)
    val commitDir = dst.newCommitDir('k')
    Files.createDirectories(commitDir)
    val mapped = log.dataFiles(None).zipWithIndex.map { case (abs, i) =>
      val src = Paths.get(abs)
      val to = commitDir.resolve(f"clone-$i%05d.parquet")
      try Files.createLink(to, src)
      catch { case _: Exception => Files.copy(src, to) }
      dir.relativize(src).toString -> dst.dir.relativize(to).toString
    }
    val mappedByOld = mapped.toMap
    val stats = mapped.flatMap { case (oldRel, newRel) =>
      statsByFile.get(oldRel).map(newRel -> _)
    }.toMap
    // ---- live-tombstone carry (see scaladoc) -------------------------
    val dels = log.eqDeletesOf(snaps, Some(head.snapshotId))
    val bySid = snaps.map(s => s.snapshotId -> s).toMap
    val props = scala.collection.mutable.Map.empty[String, String]
    val cloneSidecars = Seq.newBuilder[String]
    var cn = 0
    def addCarry(v: String): Unit = {
      props(SnapshotLog.CarryDelPrefix + cn) = v; cn += 1
    }
    dels.foreach {
      case (sid, Tomb.Keys(abs)) =>
        // key tuples reference no files — hard-link the sidecar as-is
        val src = Paths.get(abs)
        val to = commitDir.resolve(f"clone-eq-$cn%05d.parquet")
        try Files.createLink(to, src)
        catch { case _: Exception => Files.copy(src, to) }
        val rel = dst.dir.relativize(to).toString
        addCarry(s"$sid:K:$rel"); cloneSidecars += rel
      case (sid, Tomb.Pred(sql)) => addCarry(s"$sid:P:$sql")
      case (sid, Tomb.Pos(sidecars, files)) =>
        // positions bind SOURCE-relative paths — rewrite the sidecar
        // under the clone's names (inner join prunes dangling entries)
        val remap = files.toSeq.sorted
          .flatMap(f => mappedByOld.get(f).map(f -> _))
        if (remap.nonEmpty) {
          val mapDf = spark.createDataFrame(
            spark.sparkContext.parallelize(remap.map { case (o, n) =>
              org.apache.spark.sql.Row(o, n) }, 1),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("file",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("__new",
                org.apache.spark.sql.types.StringType))))
          dst.writeStaged(spark.read.parquet(sidecars: _*)
            .join(org.apache.spark.sql.functions.broadcast(mapDf), "file")
            .select(org.apache.spark.sql.functions.col("__new").as("file"),
              org.apache.spark.sql.functions.col("pos"))
            .coalesce(1), commitDir.resolve(f"clone-pd-$cn%05d"))
            .foreach { rel => addCarry(s"$sid:O:$rel"); cloneSidecars += rel }
          remap.foreach { case (of, nf) =>
            addCarry(s"$sid:F:$nf")
            // counts re-keyed to the CLONE's file names so the clone's
            // metadata COUNT stays exact under pure position tombstones
            GraftTable.posCountOf(snaps, bySid, sid, of).foreach(n =>
              props(SnapshotLog.PosCarryCountPrefix + s"$sid:$nf") =
                n.toString)
          }
        } // all dangling ⇒ the tombstone is vacuous: nothing to carry
    }
    if (dels.nonEmpty) {
      // tombstone-era sids remapped per cloned file: scoping verbatim
      log.filesWithSnapOf(snaps, Some(head.snapshotId)).foreach {
        case (abs, sid) =>
          val oldRel = dir.relativize(Paths.get(abs)).toString
          mappedByOld.get(oldRel).foreach { nf =>
            props(GraftTable.TombSidPrefix + nf) =
              GraftTable.tombSidOf(bySid, dir, abs, sid).toString
          }
      }
    }
    // layout declarations travel: cloned files keep their (remapped)
    // partition entries above, and FUTURE clone appends keep both the
    // partition spec and the default sort order
    if (Files.exists(specsPath))
      Files.copy(specsPath, dst.dir.resolve("partition_specs.txt"))
    specLog.copyInto(dst.dir.resolve("partition_specs"))
    if (Files.exists(sortOrderPath))
      Files.copy(sortOrderPath, dst.dir.resolve("sort_order.txt"))
    // row lineage travels: each cloned file keeps its identity
    // bookkeeping under its remapped name (physical-ids flag for
    // materialized files, first-row-id otherwise) and the clone
    // CONTINUES the source counter — clone-side appends can never
    // collide with carried identities
    SnapshotLog.rowIdNextOf(snaps).foreach { next =>
      val firsts = SnapshotLog.rowIdFirsts(snaps)
      val matRels = SnapshotLog.rowIdMatRels(snaps)
      val seqs = SnapshotLog.rowSeqOf(snaps)
      mapped.foreach { case (oldRel, newRel) =>
        if (matRels.contains(oldRel))
          props(SnapshotLog.RowIdMatFilePrefix + newRel) = "1"
        else {
          firsts.get(oldRel).foreach(f =>
            props(SnapshotLog.RowIdFirstPrefix + newRel) = f.toString)
          // virtual seq re-keyed to the clone's file names; the carried
          // sids stay meaningful because the create pins atLeastId at
          // the source head, so clone-side commits always sort above
          seqs.get(oldRel).foreach(q =>
            props(SnapshotLog.RowSeqFilePrefix + newRel) = q.toString)
        }
      }
      props(SnapshotLog.RowIdNextKey) = next.toString
    }
    dst.log.publish(s"clone of $name", SnapshotLog.RelinkLimit) { h =>
      require(h.isEmpty, s"clone target $newName already exists")
      Right(Staged("create", mapped.map(_._2).sorted, head.schemaJson, stats,
        deleteFiles = cloneSidecars.result().distinct.sorted,
        properties = props.toMap,
        // pin at the source head id: carried sids < every future commit
        atLeastId = Some(head.snapshotId)))
    }
    dst
  }

  /** Consistency audit of the table's metadata against the filesystem —
    * the `VACUUM DRY RUN`/fsck counterpart to [[removeOrphans]]. Checks,
    * without reading data pages: every file the CURRENT visible set (and
    * every live equality-delete sidecar) references exists on disk; no
    * snapshot removes a file no prior snapshot added; no file is added
    * twice by different snapshots. Returns human-readable findings
    * (empty = consistent). O(manifests + stat'd files) driver-side. */
  def validate(): Seq[String] = {
    val snaps = log.snapshots
    val issues = List.newBuilder[String]
    val added = scala.collection.mutable.Map.empty[String, Long]
    snaps.foreach { s =>
      // only a MARKED metadata checkpoint may re-list already-added
      // files; a real compact always writes fresh files, so its
      // double-add is corruption and stays flagged
      val isCheckpoint = s.operation == "compact" &&
        s.properties.contains(GraftTable.CheckpointKey)
      s.addedFiles.foreach { f =>
        added.get(f) match {
          case Some(prev) if !isCheckpoint => issues +=
            s"file $f added by snapshot ${s.snapshotId} was already added by $prev"
          case _ => added(f) = s.snapshotId
        }
      }
      s.removedFiles.foreach { f =>
        if (!added.contains(f)) issues +=
          s"snapshot ${s.snapshotId} removes $f which no prior snapshot added"
      }
    }
    log.dataFilesOf(snaps, None).foreach { abs =>
      if (!Files.isRegularFile(Paths.get(abs)))
        issues += s"visible data file missing on disk: ${dir.relativize(Paths.get(abs))}"
    }
    log.eqDeletesOf(snaps, None).foreach {
      case (sid, Tomb.Keys(abs)) =>
        if (!Files.isRegularFile(Paths.get(abs)))
          issues += s"equality-delete sidecar of snapshot $sid missing on disk: $abs"
      case (sid, Tomb.Pos(sidecars, _)) =>
        sidecars.foreach { abs =>
          if (!Files.isRegularFile(Paths.get(abs)))
            issues += s"position-delete sidecar of snapshot $sid missing on disk: $abs"
        }
      case (_, Tomb.Pred(_)) => () // predicate rides in the manifest itself
    }
    issues.result()
  }

  /** Iceberg-style `$snapshots` metadata table: the commit history as
    * a DataFrame (PyIceberg users read `table.snapshots()` /
    * `table.inspect` — `icerunner.py:209-259` walks it for sync
    * decisions). Driver-side manifest fold; no data file opened. */
  def snapshotsDf: DataFrame = {
    import spark.implicits._
    log.snapshots.map { s =>
      (s.snapshotId, new java.sql.Timestamp(s.timestampMs), s.operation,
        s.addedFiles.size, s.removedFiles.size, s.deleteFiles.size)
    }.toDF("snapshot_id", "committed_at", "operation",
      "added_files", "removed_files", "delete_files")
  }

  /** Iceberg-style `$history` metadata table: when each snapshot became
    * the table head. The log is LINEAR by construction (rollback
    * commits a NEW snapshot instead of moving a pointer back), so every
    * retained snapshot is an ancestor of the head. `parent_id` is the
    * TRUE parent recorded at commit time ([[SnapshotLog.ParentKey]]) —
    * never inferred from log position, which after expire_snapshots
    * would report a preceding RETAINED snapshot that was not the
    * commit's actual parent (Iceberg's `$history` reads the recorded
    * parent-snapshot-id for the same reason). Pre-recording manifests
    * fall back to the preceding snapshot ONLY when its id is exactly
    * `snapshot_id - 1` — ids are allocated contiguously from head+1,
    * so a retained id−1 can only ever BE the parent; any gap (expiry,
    * clone floors) reports null rather than a fabricated parent. */
  def historyDf: DataFrame = {
    import spark.implicits._
    val snaps = log.snapshots
    snaps.zipWithIndex.map { case (s, i) =>
      val parent = s.properties.get(SnapshotLog.ParentKey).map(_.toLong)
        .orElse(if (i > 0 && snaps(i - 1).snapshotId == s.snapshotId - 1)
          Some(snaps(i - 1).snapshotId) else None)
      (new java.sql.Timestamp(s.timestampMs), s.snapshotId, parent, true)
    }.toDF("made_current_at", "snapshot_id", "parent_id",
      "is_current_ancestor")
  }

  /** Iceberg-style `$manifests` metadata table: the manifest FILES
    * behind the log — one immutable `vNNN.json` per snapshot (this
    * engine's manifest granularity), with its on-disk size and the
    * entry counts it records. Metadata-only driver fold. */
  def manifestsDf: DataFrame = {
    import spark.implicits._
    log.snapshots.map { s =>
      val rel = Paths.get("_snapshots").resolve(f"v${s.snapshotId}%016d.json")
      val abs = dir.resolve(rel)
      (rel.toString, if (Files.isRegularFile(abs)) Files.size(abs) else -1L,
        s.snapshotId, s.addedFiles.size, s.removedFiles.size,
        s.deleteFiles.size)
    }.toDF("path", "length", "added_snapshot_id", "added_data_files_count",
      "removed_data_files_count", "delete_files_count")
  }

  /** Iceberg-style `$files` metadata table: the VISIBLE data files at
    * `asOf` with their manifest metadata — which snapshot added each
    * file, its recorded row count, and which columns carry prunable
    * range stats / bloom sketches. The debugging surface for "why did
    * my query read N files": join a prune decision against this. */
  def filesDf(asOf: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val snaps = log.snapshots
    val cut = asOf.getOrElse(Long.MaxValue)
    val statsByFile = snaps.filter(_.snapshotId <= cut)
      .flatMap(_.stats).toMap
    // row-lineage bookkeeping per file (all-null columns when lineage
    // was never enabled): the first row id of arithmetic-id files,
    // whether the file carries a PHYSICAL _row_id column
    val lineageOn = SnapshotLog.rowIdNextOf(snaps).nonEmpty
    lazy val firsts = SnapshotLog.rowIdFirsts(snaps)
    lazy val matRels = SnapshotLog.rowIdMatRels(snaps)
    log.filesWithSnapOf(snaps, asOf).map { case (abs, sid) =>
      val rel = dir.relativize(Paths.get(abs)).toString
      val st = statsByFile.get(rel)
      (rel, sid,
        st.map(_.rows).getOrElse(-1L),
        st.map(s => (s.numMin.keySet ++ s.strMin.keySet).toSeq.sorted)
          .getOrElse(Nil),
        st.map(_.blooms.keySet.toSeq.sorted).getOrElse(Nil),
        if (lineageOn && !matRels.contains(rel)) firsts.get(rel)
        else None,
        if (lineageOn) Some(matRels.contains(rel)) else None)
    }.toDF("file", "added_by", "rows", "stat_columns", "bloom_columns",
      "first_row_id", "has_physical_row_ids")
  }

  /** `$constraints` metadata table: the ACTIVE CHECK constraints —
    * name, predicate SQL, referenced columns. Metadata-only. */
  def constraintsDf: DataFrame = {
    import spark.implicits._
    val cols = constraintCols
    checkConstraints.toSeq.sorted.map { case (n, sql) =>
      (n, sql, cols.getOrElse(n, Set.empty[String]).toSeq.sorted)
    }.toDF("name", "check_sql", "columns")
  }

  /** Iceberg-style `$refs` metadata table: every named ref — TAGS
    * (expiry-protected pinned snapshots) and open WAP BRANCHES (with
    * their fork-point parent and staged-commit count) — as one
    * DataFrame. Metadata-only; the "what is pinning my history /
    * what is in flight" inspection surface. */
  def refsDf: DataFrame = {
    import spark.implicits._
    val tagRows = tags.toSeq.sorted.map { case (n, id) =>
      (n, "tag", id, 0L)
    }
    val branchRows = branches.map { b =>
      (b, "branch", branchParent(b),
        new SnapshotLog(dir, Some(b)).snapshots.size.toLong)
    }
    (tagRows ++ branchRows)
      .toDF("name", "type", "snapshot_id", "staged_commits")
  }

  /** `$deletes` metadata table: every LIVE merge-on-read tombstone at
    * `asOf` — kind, committing snapshot, payload summary — MANIFEST-
    * only (no sidecar opened). The "why is this row invisible / what
    * is blocking my checkpoint" inspection surface next to `$files`:
    * `equality` rows carry the key-sidecar path, `predicate` rows the
    * stored SQL, `position` rows the named files and (when recorded)
    * the total deleted position count. */
  def deletesDf(asOf: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val snaps = log.snapshots
    val bySid = snaps.map(s => s.snapshotId -> s).toMap
    log.eqDeletesOf(snaps, asOf).map {
      case (sid, Tomb.Keys(p)) =>
        (sid, "equality", dir.relativize(Paths.get(p)).toString, -1L)
      case (sid, Tomb.Pred(sql)) => (sid, "predicate", sql, -1L)
      case (sid, Tomb.Pos(_, files)) =>
        val counts = files.toSeq.map(GraftTable.posCountOf(snaps, bySid, sid, _))
        val n =
          if (counts.nonEmpty && counts.forall(_.nonEmpty)) counts.flatten.sum
          else -1L
        (sid, "position", files.toSeq.sorted.mkString(","), n)
    }.toDF("snapshot_id", "kind", "payload", "positions")
  }

  /** Iceberg-style `$partitions` metadata table: one row per
    * (spec-era partition field, partition value) over the VISIBLE
    * file set at `asOf`, with file/row/byte counts — MANIFEST-ONLY
    * (partition values come from the spec-versioned stat entries
    * every partitioned append records, so the data directory need
    * not even exist). Spec evolution is first-class: each era's
    * transform reports under its own `spec_field` (e.g.
    * `p_id_status` then `p_b4_o_orderkey`), so "how is this table
    * laid out, era by era" is one query. Files with no partition
    * entry at all group under `<unpartitioned>`; row/byte sums go
    * NULL when any contributing file predates row/byte recording
    * (UNKNOWN, never a silent undercount). */
  def partitionsDf(asOf: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val snaps = log.snapshots
    val cut = asOf.getOrElse(Long.MaxValue)
    val statsByFile = snaps.filter(_.snapshotId <= cut).flatMap(_.stats).toMap
    val hist = partitionSpecHistory
    val perFile = log.filesWithSnapOf(snaps, asOf).flatMap { case (abs, _) =>
      val rel = dir.relativize(Paths.get(abs)).toString
      val st = statsByFile.get(rel)
      val entries = hist.flatMap { f =>
        st.flatMap(stt =>
          stt.numMin.get(f.statName)
            .map(v => (f.statName, Partitioning.fmtStatValue(v)))
            .orElse(stt.strMin.get(f.statName).map(v => (f.statName, v))))
      }
      val tagged =
        if (entries.isEmpty) Seq(("<unpartitioned>", null: String))
        else entries
      tagged.map { case (fld, v) =>
        (fld, v, st.map(_.rows).getOrElse(-1L), st.map(_.bytes).getOrElse(-1L))
      }
    }
    val folded = perFile.groupBy(r => (r._1, Option(r._2))).toSeq
      .map { case ((fld, v), fs) =>
        (fld, v.orNull,
          fs.size.toLong,
          if (fs.exists(_._3 < 0)) None else Some(fs.map(_._3).sum),
          if (fs.exists(_._4 < 0)) None else Some(fs.map(_._4).sum))
      }
      .sortBy(r => (r._1, Option(r._2).getOrElse("")))
    folded.toDF("spec_field", "value", "files", "rows", "bytes")
  }

  /** `SHOW PARTITIONS` — the distinct partition tuples of the CURRENT
    * spec, Spark's one-column `partition` shape (`f1=v1/f2=v2`; the
    * richer per-partition file/row/byte stats live in `$partitions`).
    *
    * Scale posture: answered from MANIFEST STATS alone for every file
    * whose recorded min==max pins one tuple — which is every file the
    * partitioned write path produces (appends hash-distribute by
    * partition value, so a file holds one partition). Files that
    * PREDATE the spec (no transform stat) or straddle values (a
    * pre-spec compact) fall back to a column-pruned read of JUST those
    * files through the era-projecting read path — bounded by the
    * straddler count, zero on a spec-first table, and never a full
    * scan.
    *
    * Semantics follow Hive/Iceberg partition metadata: a partition is
    * listed when a VISIBLE data file carries rows in it, BEFORE
    * row-level delete application — a partition whose every row is
    * MOR-tombstoned still lists until the files are rewritten (the
    * stats path cannot see tombstones; applying them would cost the
    * full MOR read this surface exists to avoid). */
  def showPartitionsDf(): DataFrame = {
    import spark.implicits._
    val spec = partitionSpec
    require(spec.nonEmpty,
      s"SHOW PARTITIONS $name: table is not partitioned")
    val snaps = log.snapshots
    val statsByFile = snaps.flatMap(_.stats).toMap
    // a file's stats pin ONE tuple iff min==max for every spec field
    def pinned(rel: String): Option[Seq[String]] =
      statsByFile.get(rel).flatMap { st =>
        val vals = spec.map { f =>
          val n = f.statName
          (st.numMin.get(n), st.numMax.get(n)) match {
            case (Some(a), Some(b)) if a == b =>
              Some(Partitioning.fmtStatValue(a))
            case (None, None) =>
              (st.strMin.get(n), st.strMax.get(n)) match {
                case (Some(a), Some(b)) if a == b => Some(a)
                case _ => None
              }
            case _ => None
          }
        }
        if (vals.forall(_.nonEmpty)) Some(vals.map(_.get)) else None
      }
    val files = log.filesWithSnapOf(snaps, None).map { case (abs, sid) =>
      (abs, dir.relativize(Paths.get(abs)).toString, sid)
    }
    val (exact, straddle) = files.partition(f => pinned(f._2).nonEmpty)
    val fromStats = exact.map(f => pinned(f._2).get)
    val fromRead: Seq[Seq[String]] =
      if (straddle.isEmpty) Nil
      else {
        // era-projecting scan of JUST the straddling files — the file
        // list feeds the reader directly, so the plan reads exactly
        // the straddler count (a post-scan input_file_name filter over
        // read() cannot prune file reads: one straddler would cost a
        // full-table scan). The transform exprs are the SAME codegen'd
        // derivations the write path clusters by, so values agree with
        // recorded stats. BEFORE-delete semantics, deliberately
        // matching the stats path (see scaladoc): no tombstone join —
        // a fully MOR-tombstoned partition lists identically whichever
        // path serves it.
        val sch = schema
        readFilesProjected(straddle.map(f => (f._1, f._3)), snaps, sch)
          .select(spec.map(f =>
            f.expr(sch(f.column).dataType).cast("string")): _*)
          .distinct().collect()
          .map(r => spec.indices.map(i =>
            Option(r.getString(i)).getOrElse("null")))
          .toSeq
      }
    val tuples = (fromStats ++ fromRead).distinct
      .map(vals => spec.zip(vals)
        .map { case (f, v) => s"${f.sqlText()}=$v" }.mkString("/"))
      .sorted
    tuples.toDF("partition")
  }

  /** `SHOW CREATE TABLE` — ONE re-executable DDL statement that
    * reproduces the table's declared surface on this engine: column
    * list with NOT NULL and the CURRENT write-defaults, ACTIVE CHECK
    * constraints (r17 — the CREATE routes accept them back),
    * PARTITIONED BY transforms, and user TBLPROPERTIES. The declared
    * SORT ORDER is a write-layout hint with no Spark DDL spelling and
    * is not emitted. Metadata-only. */
  def showCreateTableSql: String = {
    def q(id: String): String = s"`$id`"
    val colLines = schema.fields.map { f =>
      val dflt = if (f.metadata.contains(GraftTable.CurrentDefaultKey))
        s" DEFAULT ${f.metadata.getString(GraftTable.CurrentDefaultKey)}"
      else ""
      val nn = if (f.nullable) "" else " NOT NULL"
      s"  ${q(f.name)} ${f.dataType.sql}$nn$dflt"
    } ++ checkConstraints.toSeq.sorted.map { case (n, sql) =>
      s"  CONSTRAINT ${q(n)} CHECK ($sql)"
    }
    val partLine = partitionSpec match {
      case Nil => ""
      case spec => spec.map(_.sqlText(q))
        .mkString("\nPARTITIONED BY (", ", ", ")")
    }
    val props = userProperties()
    val propLine =
      if (props.isEmpty) ""
      else props.toSeq.sortBy(_._1)
        .map { case (k, v) =>
          s"'${k.replace("'", "''")}'='${v.replace("'", "''")}'" }
        .mkString("\nTBLPROPERTIES (", ", ", ")")
    s"CREATE TABLE ${q(name)} (\n${colLines.mkString(",\n")})" +
      partLine + propLine
  }

  private def compatible(expected: StructType, got: StructType): Boolean =
    expected.fields.map(f => (f.name, f.dataType)).sameElements(
      got.fields.map(f => (f.name, f.dataType)))
}

object GraftTable {
  /** Create a new table from initial data. Idempotency matches the
    * reference's create_table (`icerunner.py:133-161`): returns None if
    * the table already exists. */
  /** What one [[GraftTable.maintain]] pass did. */
  final case class MaintainReport(binpacked: Boolean, posMerged: Boolean,
      expired: Boolean, expireRefusal: Option[String],
      orphansRemoved: Seq[String])

  /** Snapshot-property key recording a MERGE/upsert commit's key
    * columns (comma-joined) — [[GraftTable.changeFeed]] pairs that
    * commit's delete+insert rows sharing a key into
    * `update_preimage`/`update_postimage` (the Delta CDF shape).
    * Absent (pre-r14 commits, or a key column name containing a
    * comma) ⇒ the feed reports plain delete+insert, still correct. */
  val DmlKeysKey = "graft.dml.keys"

  /** The row-lineage column name (the Iceberg v3 reserved field). */
  val RowIdCol = "_row_id"

  /** v3's SECOND lineage column: the snapshot id of the commit that
    * last CREATED OR CHANGED the row — `_row_id` answers "which row is
    * this", this answers "when did it last change", so a consumer can
    * ask "rows changed since commit S" from the row itself. Virtual
    * (= the file's adding commit, [[SnapshotLog.rowSeqOf]]) until a
    * rewrite materializes it beside `_row_id`: survivors keep their
    * read value, changed/minted rows get the committing snapshot's id. */
  val RowSeqCol = "_last_updated_sequence_number"

  /** One step of the change walk ([[GraftTable.changeFeed]]): a commit's
    * (or an append run's) changed rows signed ±1 in `__cf_s`, and the
    * label that turns them into the feed's tagged, attributed rows. */
  private[warehouse] final case class ChangeStep(rows: DataFrame,
      label: DataFrame => DataFrame)

  /** A stats-pruning bound ([[FileStat.mayContain]]'s value forms) for
    * the Catalyst value `v` of type `dt`; None for a type whose bounds
    * do not prune. */
  private[warehouse] def boundOf(v: Any, dt: DataType): Option[Any] = {
    import org.apache.spark.sql.types._
    dt match {
      case _: DecimalType => None
      case _: NumericType => Some(v)
      case StringType => Some(v.toString)
      case TimestampType => Some(new java.sql.Timestamp(
        Math.floorDiv(v.asInstanceOf[Long], 1000L)))
      case TimestampNTZType => Some(java.time.LocalDateTime.ofInstant(
        java.time.Instant.ofEpochMilli(
          Math.floorDiv(v.asInstanceOf[Long], 1000L)),
        java.time.ZoneOffset.UTC))
      case DateType => Some(java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong)))
      case _ => None
    }
  }

  /** Multiset-cancel a ±1-tagged union in ONE pass: group identical
    * rows, net the sign, re-expand |net| copies tagged with the
    * surviving side. Replaces the `a.exceptAll(b) ∪ b.exceptAll(a)`
    * shape wherever the inputs are EXPENSIVE lazy plans (feed reads
    * are multi-join scans): that shape evaluates each input plan
    * twice — and a downstream key-pairing join doubled it again — so
    * a single groupBy shuffle over O(changed rows) is strictly
    * cheaper, and the only evaluation of each side. `side` must be
    * ±1L per row; row duplicates are preserved exactly (the r14 feed
    * contract). */
  private[graft] def multisetNet(tagged: org.apache.spark.sql.DataFrame,
      cols: Seq[String], side: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{abs, col, explode, lit,
      sequence, sum, when}
    tagged.groupBy(cols.map(col): _*)
      .agg(sum(col(side)).as("__mn_net"))
      .filter(col("__mn_net") =!= 0L)
      .withColumn(side, when(col("__mn_net") > 0L, lit(1L)).otherwise(lit(-1L)))
      .withColumn("__mn_i", explode(sequence(lit(1L), abs(col("__mn_net")))))
      .drop("__mn_net", "__mn_i")
  }

  /** StructField-metadata keys of a column's CONSTANT default (the
    * Iceberg v3 initial-default / write-default pair) — Spark's own
    * default-column metadata contract, which the vectorized parquet
    * reader resolves for columns ABSENT from a file (so pre-add files
    * read the default with zero extra plan nodes). The value is a SQL
    * literal rendered by `Literal.sql`. */
  val ExistsDefaultKey = "EXISTS_DEFAULT"
  val CurrentDefaultKey = "CURRENT_DEFAULT"

  /** Stamp a field with its v3 initial/write-default pair — the ONE
    * canonical-literal rendering discipline, shared by ALTER TABLE ADD
    * COLUMN ([[GraftTable.addColumns]]) and SQL column-list CREATE
    * TABLE ([[graft.warehouse.Connector]]). Literal.create both
    * validates convertibility to the declared type and renders the SQL
    * literal text every future read re-parses (string escaping,
    * timestamp/date forms). */
  private[graft] def withDefaultMetadata(
      f: org.apache.spark.sql.types.StructField, v: Any)
      : org.apache.spark.sql.types.StructField = {
    require(v != null, s"default for '${f.name}' must be a non-null " +
      "constant (a null default IS the plain nullable add)")
    val sqlText =
      try org.apache.spark.sql.catalyst.expressions.Literal
        .create(v, f.dataType).sql
      catch { case e: Exception => throw new IllegalArgumentException(
        s"default for '${f.name}' is not a ${f.dataType} constant: $v", e) }
    f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata)
      .putString(ExistsDefaultKey, sqlText)
      .putString(CurrentDefaultKey, sqlText).build())
  }

  /** The parsed INITIAL (exists) default of a field — the frozen half
    * of the v3 pair: what rows in files PREDATING the column read.
    * Used by the read-side era projection (Spark's own parquet reader
    * consumes the same EXISTS_DEFAULT metadata on the fast path). */
  private[warehouse] def defaultOf(f: org.apache.spark.sql.types.StructField)
      : Option[org.apache.spark.sql.Column] =
    if (f.metadata.contains(ExistsDefaultKey))
      Some(org.apache.spark.sql.functions
        .expr(f.metadata.getString(ExistsDefaultKey)).cast(f.dataType))
    else None

  /** The parsed WRITE (current) default of a field — the MUTABLE half
    * ([[GraftTable.setColumnDefault]]): what a writer omitting the
    * column gets. Distinct from [[defaultOf]] so SET DEFAULT changes
    * future writes without rewriting what old files read. */
  private[warehouse] def writeDefaultOf(
      f: org.apache.spark.sql.types.StructField)
      : Option[org.apache.spark.sql.Column] =
    if (f.metadata.contains(CurrentDefaultKey))
      Some(org.apache.spark.sql.functions
        .expr(f.metadata.getString(CurrentDefaultKey)).cast(f.dataType))
    else None

  /** Snapshot-property keys of the streaming-sink transaction markers
    * (see [[GraftTable.lastTxnBatch]]). */
  val TxnAppIdKey = "graft.txn.appId"
  val TxnBatchKey = "graft.txn.batchId"
  /** Prefix of carried-forward marker keys (`<prefix><appId> ->
    * batchId`) on compact/checkpoint snapshots — see `lastTxnBatch`. */
  val TxnCarryPrefix = "graft.txn.carried."

  /** Property marking a `compact` snapshot as a METADATA CHECKPOINT
    * ([[GraftTable.checkpoint]]): it re-LISTS already-added files
    * instead of writing fresh ones, so [[GraftTable.validate]] exempts
    * only marked compacts from the double-add check (a real compact
    * re-listing a file is corruption and stays flagged), and reads
    * consult its per-file era bindings. */
  val CheckpointKey = "graft.checkpoint"
  /** USER table-property deltas ([[GraftTable.setProperties]]):
    * `graft.props.set.<k>` → value / `graft.props.unset.<k>` on a
    * "properties" commit; [[GraftTable.userProperties]] folds them,
    * [[GraftTable.checkpoint]] re-states the effective map so the
    * properties survive history expiry. */
  val UserPropSetPrefix = "graft.props.set."
  val UserPropUnsetPrefix = "graft.props.unset."
  /** `graft.era.<n>` → era schema JSON (field ids materialized) stored
    * by a checkpoint; `graft.eraof.<relPath>` → n binds a carried file
    * to its decode era. Only files whose era is NOT name+type identity
    * with the head schema get entries — identity files decode under
    * the head schema by name exactly as before. */
  private[warehouse] val EraPrefix = "graft.era."
  private[warehouse] val EraOfPrefix = "graft.eraof."
  /** `graft.retired.<n>` → `<id|->:<name>` — every (column name, field
    * id) binding a checkpoint's carried files physically contain that
    * differs from the head schema's binding of that name. This is the
    * name-freshness memory that survives expiry: [[requireNameFresh]]
    * and [[maxFieldId]] consult it so a name/id retired before the
    * horizon cannot be re-issued while its bytes are still readable. */
  private[warehouse] val RetiredPrefix = "graft.retired."

  /** The era schema JSON a checkpoint recorded for a carried file, if
    * any (None ⇒ the file decodes under the checkpoint's own schema). */
  private[warehouse] def checkpointEraOf(s: Snapshot, rel: String): Option[String] =
    s.properties.get(EraOfPrefix + rel).flatMap(i => s.properties.get(EraPrefix + i))

  /** `graft.tombsid.<relPath>` → snapshot id: the TOMBSTONE-ERA a
    * binpack output file inherits from its sources
    * ([[GraftTable.compactSmall]] under live merge-on-read deletes) —
    * key/predicate tombstones scope "files committed before me", and
    * a rewrite that re-houses pre-delete rows must not let them escape
    * that scope. Chains collapse: a recorded value is itself an
    * EFFECTIVE sid, so resolution is one property lookup. */
  private[warehouse] val TombSidPrefix = "graft.tombsid."

  /** The snapshot id a file's rows are tombstone-scoped by: its adding
    * snapshot unless that snapshot recorded an inherited era for it. */
  private[warehouse] def tombSidOf(bySid: Map[Long, Snapshot],
      dir: Path, abs: String, sid: Long): Long =
    bySid.get(sid).flatMap(s =>
      s.properties.get(TombSidPrefix +
          dir.relativize(Paths.get(abs)).toString)
        .flatMap(_.toLongOption)).getOrElse(sid)

  /** A position-delete commit's recorded deleted-position count for
    * one named file — from the committing snapshot itself when
    * retained, else from the latest CHECKPOINT that re-recorded it
    * under [[SnapshotLog.PosCarryCountPrefix]] (sid-scoped) while
    * carrying the tombstone across the expiry horizon. None ⇒
    * pre-count-recording commit; callers fall back to a scan.
    *
    * Callers pass a prebuilt `bySid` so the primary lookup is O(1) per
    * (sid, file) — a linear snapshot find here would be O(tombstone
    * files × snapshots) driver CPU at manifest scale, the same class
    * of quadratic the r12 checkpoint stats filter had. The carry
    * fallback scans only CHECKPOINT-marked snapshots, and only when
    * the committing snapshot has already expired. */
  private[warehouse] def posCountOf(snaps: Seq[Snapshot],
      bySid: Map[Long, Snapshot], sid: Long, f: String): Option[Long] =
    bySid.get(sid)
      .filter(_.properties.contains(SnapshotLog.PosCountPrefix + f))
      .flatMap(_.properties.get(SnapshotLog.PosCountPrefix + f))
      .orElse(snaps.reverseIterator
        // carriers only: metadata checkpoints and clone-create commits
        .filter(_.properties.keys.exists(
          _.startsWith(SnapshotLog.CarryDelPrefix)))
        .flatMap(_.properties.get(SnapshotLog.PosCarryCountPrefix + s"$sid:$f"))
        .nextOption())
      .flatMap(_.toLongOption)

  /** (name, field id or None) bindings a checkpoint carried forward. */
  private[warehouse] def retiredBindings(s: Snapshot): Seq[(String, Option[Long])] =
    s.properties.toSeq.collect { case (k, v) if k.startsWith(RetiredPrefix) =>
      val i = v.indexOf(':')
      val idPart = v.substring(0, i)
      (v.substring(i + 1), if (idPart == "-") None else idPart.toLongOption)
    }

  /** StructField-metadata key of the stable FIELD ID (the Iceberg
    * column-identity contract): rename keeps the id, drop retires it,
    * reads project era files to the current schema by id. Assigned
    * lazily — a table acquires ids on its first rename/drop (or on
    * addColumns once in id mode); earlier eras match by name. */
  val FieldIdKey = "graft.fieldId"

  private[graft] def fieldIdOf(f: org.apache.spark.sql.types.StructField): Option[Long] =
    if (f.metadata.contains(FieldIdKey)) Some(f.metadata.getLong(FieldIdKey))
    else None

  private[warehouse] def withFieldId(
      f: org.apache.spark.sql.types.StructField, id: Long)
      : org.apache.spark.sql.types.StructField =
    f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata).putLong(FieldIdKey, id).build())

  /** Assign ids 1..n positionally to fields that lack one (fields that
    * already have ids keep them; fresh ids start above the max). */
  private[warehouse] def withFieldIds(sch: StructType): StructType = {
    var next = sch.fields.flatMap(fieldIdOf).maxOption.getOrElse(0L) + 1
    StructType(sch.fields.map { f =>
      if (fieldIdOf(f).nonEmpty) f
      else { val t = withFieldId(f, next); next += 1; t }
    })
  }

  /** Highest field id any retained era ever used (dropped columns'
    * ids must not be re-issued while their files are readable) —
    * including ids a checkpoint's carried eras retired across an
    * expiry horizon. */
  private[warehouse] def maxFieldId(snaps: Seq[Snapshot]): Long =
    snaps.flatMap { s =>
      DataType.fromJson(s.schemaJson).asInstanceOf[StructType]
        .fields.flatMap(fieldIdOf) ++
        retiredBindings(s).flatMap(_._2)
    }.maxOption.getOrElse(0L)

  /** For each `target` field, the ERA field that holds its data (None
    * = null-fill): matched by FIELD ID when the target has one, with a
    * same-name fallback only against id-LESS era fields (pre-upgrade
    * continuity — an era field carrying a DIFFERENT id under the same
    * name must never leak through). Type mismatches never match. */
  /** Name each field id was bound to in PRE-UPGRADE (id-less) eras:
    * the EARLIEST retained id-bearing schema is the upgrade commit,
    * which assigned ids with unchanged names (`ensureFieldIds`) — its
    * (id → name) is the legacy binding. Fields added after the
    * upgrade carry ids absent from it and can never match a legacy
    * era (correct: those eras predate the field). */
  private[warehouse] def legacyNames(snaps: Seq[Snapshot]): Map[Long, String] =
    snaps.iterator
      .map(s => DataType.fromJson(s.schemaJson).asInstanceOf[StructType])
      .find(_.fields.exists(f => fieldIdOf(f).nonEmpty))
      .map(_.fields.flatMap(f => fieldIdOf(f).map(_ -> f.name)).toMap)
      .getOrElse(Map.empty)

  /** May a value of era type `from` be read as target type `to`
    * losslessly? The Iceberg type-promotion set: integral up-widening
    * and float→double. Widening is METADATA-ONLY ([[GraftTable.widenColumn]]);
    * era files keep the narrow physical type and reads CAST. */
  /** Max root-to-leaf node count of an expression tree (the
    * [[lastOverwriteCondDepth]] witness). */
  private[graft] def exprDepth(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Int =
    if (e.children.isEmpty) 1 else 1 + e.children.map(exprDepth).max

  private[graft] def widens(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }

  /** For each `target` field, the ERA field that holds its data (None
    * = null-fill): matched by FIELD ID when the target has one; an
    * id-LESS era resolves through the `legacy` binding (the name the
    * id had at upgrade time). An era field carrying a DIFFERENT id
    * under the same name never leaks through; a type matches when
    * equal OR losslessly widenable ([[widens]] — the read casts). */
  private[warehouse] def eraProjection(era: StructType, target: StructType,
      legacy: Map[Long, String])
      : Seq[(Option[org.apache.spark.sql.types.StructField],
          org.apache.spark.sql.types.StructField)] = {
    val byId = era.fields.flatMap(f => fieldIdOf(f).map(_ -> f)).toMap
    target.fields.toSeq.map { tf =>
      val src = fieldIdOf(tf) match {
        case Some(id) => byId.get(id).orElse {
          val boundName = legacy.getOrElse(id, tf.name)
          era.fields.find(f => f.name == boundName && fieldIdOf(f).isEmpty)
        }
        case None => era.fields.find(f => f.name == tf.name)
      }
      (src.filter(f => f.dataType == tf.dataType ||
        widens(f.dataType, tf.dataType)), tf)
    }
  }

  def create(spark: SparkSession, dir: Path, name: String, data: DataFrame,
      properties: Map[String, String] = Map.empty,
      spec: Seq[PartitionField] = Nil): Option[GraftTable] = {
    // absolute dir: the rewrite probes relativize input_file_name()'s
    // absolute URIs, which throws against a relative table dir
    val t = new GraftTable(name, dir.toAbsolutePath.normalize(), spark)
    if (t.log.head.nonEmpty) None
    else {
      Files.createDirectories(dir)
      // hidden partitioning declared BEFORE the first write lays out
      // the create payload itself transform-clustered (a partitioned
      // CTAS needs no schema-only create + separate append)
      if (spec.nonEmpty) {
        spec.foreach(f => require(data.schema.fieldNames.contains(f.column),
          s"partition column '${f.column}' not in schema of $name"))
        t.setPartitionSpec(spec)
      }
      t.append(data, properties = properties)
      Some(t)
    }
  }

  def load(spark: SparkSession, dir: Path, name: String): Option[GraftTable] = {
    val t = new GraftTable(name, dir.toAbsolutePath.normalize(), spark)
    if (t.log.head.nonEmpty) Some(t) else None
  }
}
