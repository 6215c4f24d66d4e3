package graft.service

import scala.util.control.NonFatal

import graft.warehouse.Connector

/** Flight-to-warehouse replication (reference: `run_mirror`,
  * `icerunner.py:846-1155`), with the incremental path actually working:
  * the server implements `get_changes`/`get_metadata` (the reference's
  * does not, so its mirror always falls back to full re-sync, which
  * **duplicates the full source table every interval** on an append-only
  * target — SURVEY.md §2A protocol-asymmetry note).
  *
  * Sync algorithm per tick:
  *  1. `get_metadata` → source snapshot id S.
  *  2. target missing → full `do_get`, create, record (S, rows).
  *  3. state has last-synced snapshot L:
  *     - L == S → no-op (idempotent tick);
  *     - L <  S → `get_changes(since = L)` → append delta only;
  *     - source refuses (rewrite in (L, S], or L expired) →
  *       `get_diff(since = L)` → apply the row changelog (delete old
  *       versions, insert new) — only the DELTA crosses the wire even
  *       across an upsert; if the diff base itself has expired, fall
  *       back to the full replica rebuild;
  *     - ADDITIVE source schema evolution in the window → evolve the
  *       replica in place (nullable adds) on EITHER delta path and
  *       keep streaming increments; only a non-additive change routes
  *       to the rebuild (which ships the new schema wholesale, via
  *       the atomic in-place replace when the table exists).
  *  4. target exists but no state (adopted table) → record S without
  *     copying — never silently duplicate; a `--full` initial copy is
  *     what case 2 is for.
  *
  * Every state transition is persisted through [[SyncState]] so a
  * restarted mirror resumes exactly where it stopped (at-least-once on
  * crash *between* append and state save; appends are atomic commits).
  */
object Mirror {

  final case class SyncResult(status: String, rowsSynced: Long,
      sourceSnapshot: Option[Long])

  /** Rebuild the replica from a full pinned read — the recovery for a
    * source whose history has been expired past the replica's recorded
    * snapshot (delta unknowable). An EXISTING replica is rebuilt via
    * its own transactional [[graft.warehouse.GraftTable.replace]] (one
    * CAS snapshot — readers never observe a missing table, and the
    * new contents may carry an evolved schema); only a never-created
    * target goes through create. Either way an append-only table never
    * double-counts (the reference's fallback re-appends the full table
    * every tick instead). */
  private def fullResync(data: FlightClient, sourceTable: String,
      connector: Connector, targetTable: String): (String, Long, Long) = {
    val f = data.doGet(sourceTable)
    try {
      if (connector.tableExists(targetTable))
        connector.replaceTable(targetTable, f.df)
      else {
        connector.createTable(targetTable, f.df)
        applyLayout(data, sourceTable, connector, targetTable)
      }
      ("full_resync", connector.count(targetTable), f.snapshotId)
    } finally f.cleanup()
  }

  /** Re-declare the SOURCE's layout (partition spec + sort order +
    * CHECK constraints) on a freshly created replica, so the replica's
    * own delta appends land partition-/cluster-prunable like the
    * source's — and a replica promoted to primary keeps enforcing what
    * the source enforced. Best-effort: a source without `get_layout`
    * (or with none declared) leaves the replica's layout local —
    * replication correctness never depends on it. Constraint
    * re-declaration validates the just-synced data (one scan per
    * constraint, the addCheckConstraint contract); a constraint that
    * somehow fails there is skipped, not fatal. */
  private def applyLayout(ctl: FlightClient, sourceTable: String,
      connector: Connector, targetTable: String): Unit =
    try {
      val (spec, sort, checks) = ctl.getLayout(sourceTable)
      val t = connector.loadTable(targetTable)
      if (spec.nonEmpty) t.setPartitionSpecSerialized(spec)
      if (sort.nonEmpty) t.setSortOrder(sort.split(",").toSeq)
      checks.foreach { case (n, sql) =>
        try if (!t.checkConstraints.contains(n)) t.addCheckConstraint(n, sql)
        catch { case scala.util.control.NonFatal(_) => () }
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Additive schema-evolution continuation: when the wire delta
    * carries columns the replica lacks, evolve the replica in place
    * (nullable adds via [[graft.warehouse.GraftTable.addColumns]])
    * and keep the delta stream flowing — a source evolution must not
    * demote incremental replication to full rebuilds. Every column
    * the replica already has must still match by name and type;
    * anything non-additive throws, routing the caller onto its
    * rebuild fallback (which ships the new schema wholesale). */
  private def evolveForDelta(connector: Connector, targetTable: String,
      incoming: org.apache.spark.sql.types.StructType): Unit = {
    val t = connector.loadTable(targetTable)
    val cur = t.schema
    val extra = incoming.fields.filterNot(f => cur.fieldNames.contains(f.name))
    if (extra.nonEmpty) {
      cur.fields.foreach { f =>
        require(incoming.fields.exists(g =>
            g.name == f.name && g.dataType == f.dataType),
          s"non-additive schema change for $targetTable: " +
            s"replica column ${f.name}: ${f.dataType} missing or retyped " +
            s"in source delta $incoming")
      }
      t.addColumns(org.apache.spark.sql.types.StructType(
        extra.map(_.copy(nullable = true))))
    }
  }

  /** RENAME/DROP continuation: when the incoming delta's schema is not
    * an additive widening of the replica's, replay the SOURCE's schema
    * history on the replica instead of demoting to a full rebuild —
    * the metadata-only source op stays metadata-only on the replica.
    * The source's retained eras arrive via `get_schema_history`
    * (field ids ride in the schema JSON); the replica's schema matches
    * some era by (name, type) — every later era-pair then replays as:
    * same field id, new name → [[graft.warehouse.GraftTable.renameColumn]];
    * id gone → dropColumn; added names are left to [[evolveForDelta]]
    * (the delta batch carries them). The replica needs no source ids
    * of its own — its renames mint local ids, and induction keeps its
    * names equal to the source era it has replayed to. Throws when the
    * replica matches no retained era (caller falls back to rebuild). */
  private def reconcileEvolution(data: FlightClient, sourceTable: String,
      connector: Connector, targetTable: String): Unit = {
    import graft.warehouse.GraftTable.fieldIdOf
    val hist = data.getSchemaHistory(sourceTable)
    def names(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => (f.name, f.dataType)).toSeq
    val t = connector.loadTable(targetTable)
    // latest era whose (name, type) sequence is a PREFIX of-or-equal to
    // the replica's (the replica may have extra local columns only in
    // theory; exact match is the real case)
    val startIdx = hist.lastIndexWhere(h => names(h) == names(t.schema))
    require(startIdx >= 0,
      s"replica $targetTable matches no retained source schema era")
    hist.drop(startIdx).sliding(2).foreach {
      case Seq(a, b) =>
        val aById = a.fields.flatMap(f => fieldIdOf(f).map(_ -> f)).toMap
        val bById = b.fields.flatMap(f => fieldIdOf(f).map(_ -> f)).toMap
        bById.foreach { case (id, bf) =>
          aById.get(id).foreach { af =>
            if (af.name != bf.name)
              connector.loadTable(targetTable).renameColumn(af.name, bf.name)
            if (af.dataType != bf.dataType)
              // type promotion (int→long etc.): replay the widening
              connector.loadTable(targetTable)
                .widenColumn(bf.name, bf.dataType)
          }
        }
        aById.foreach { case (id, af) =>
          if (!bById.contains(id) &&
              connector.loadTable(targetTable).schema.fieldNames.contains(af.name))
            connector.loadTable(targetTable).dropColumn(af.name)
        }
      case _ => ()
    }
  }

  /** [[evolveForDelta]] with the rename/drop escalation: a
    * non-additive delta first tries the schema-history replay, then
    * re-checks additivity (leftover adds apply); only a genuinely
    * un-replayable divergence propagates (→ rebuild). */
  private def alignForDelta(data: FlightClient, sourceTable: String,
      connector: Connector, targetTable: String,
      incoming: org.apache.spark.sql.types.StructType): Unit = {
    // a replica column ABSENT from the delta means the source renamed
    // or dropped it, and a same-name column at a DIFFERENT type means
    // a widening (deltas always carry the source's full current
    // schema) — evolveForDelta alone would no-op on both (it only
    // type-checks when new columns appear) and the insert/append
    // would then fail downstream
    val gone = connector.loadTable(targetTable).schema.fields
      .exists(f => !incoming.fields.exists(g =>
        g.name == f.name && g.dataType == f.dataType))
    if (gone) {
      reconcileEvolution(data, sourceTable, connector, targetTable)
      evolveForDelta(connector, targetTable, incoming)
    } else
      try evolveForDelta(connector, targetTable, incoming)
      catch {
        case _: IllegalArgumentException =>
          reconcileEvolution(data, sourceTable, connector, targetTable)
          evolveForDelta(connector, targetTable, incoming)
      }
  }

  /** Thrown BEFORE any replica mutation when the op-log window
    * contains an operation the replay can't reproduce — the caller
    * safely falls through to the changelog (diff) path. Any failure
    * AFTER replay started must instead route to [[fullResync]] (whose
    * replace converges regardless of partial application). */
  private final class OplogNotReplayable(msg: String)
    extends RuntimeException(msg)

  /** OP-LOG REPLAY: reproduce the source's operation sequence on the
    * replica — appends/publishes ship their rows, merge-on-read
    * equality deletes ship their KEY TUPLES ([[FlightClient.getDeleteKeys]])
    * and re-apply as the replica's own `deleteKeysMor` — so a source
    * eqdelete no longer demotes replication to a changelog or rebuild:
    * only the window's new rows and delete keys cross the wire, and
    * replaying in source order preserves the era scoping (a replica
    * append replayed before a replayed delete is hit by it; one
    * replayed after is not — exactly the source's sequence semantics).
    * Consecutive appends coalesce into one bounded `get_changes`
    * fetch. Validates the WHOLE window for replayability before
    * touching the replica. */
  private def oplogSync(data: FlightClient, sourceTable: String,
      connector: Connector, targetTable: String,
      since: Long): (String, Long, Long) = {
    val (head, ops) = data.getOplog(sourceTable, since)
    if (ops.isEmpty) return ("up_to_date", 0L, since)
    if (ops.head._1 > since + 1)
      throw new OplogNotReplayable(
        s"oplog window ($since, $head] truncated by expiry")
    // `rewrite` (partial binpack) and `compact` (full relayout or
    // metadata checkpoint) change NO logical rows — the source's
    // get_changes skips them, so they pass through the replay as
    // zero-row ops (since r13): routine source maintenance no longer
    // demotes a MOR-delete window to changelog/rebuild. A source
    // compact also MATERIALIZES its live tombstones; the replica's
    // replayed tombstones simply stay live with identical visibility,
    // converging at the replica's own next compact.
    // `properties` (SET/UNSET TBLPROPERTIES, r17) is metadata-only —
    // zero logical rows, skipped by get_changes like rewrite/compact;
    // without this a property edit on the source demoted the window
    // to diffSync's full replica rewrite. (User properties themselves
    // are not replicated — the mirror ships data + layout.)
    val replayable =
      Set("append", "publish", "eqdelete", "rewrite", "compact", "properties")
    ops.find(o => !replayable(o._2)).foreach { case (id, op, _) =>
      throw new OplogNotReplayable(s"op $op at snapshot $id is not replayable")
    }
    var applied = 0L
    var prev = since
    def flushAppends(until: Long): Unit = if (until > prev) {
      val f = data.getChanges(sourceTable, prev, until)
      try {
        val n = f.rows
        if (n > 0) {
          alignForDelta(data, sourceTable, connector, targetTable, f.df.schema)
          val tgtCols = connector.loadTable(targetTable).schema.fieldNames.toSeq
          connector.insert(targetTable,
            f.df.select(tgtCols.map(org.apache.spark.sql.functions.col): _*))
        }
        applied += n
      } finally f.cleanup()
      prev = until
    }
    ops.foreach { case (id, op, pred) =>
      if (op == "eqdelete") {
        flushAppends(id - 1)
        if (pred.nonEmpty) {
          // PREDICATE delete: the SQL text IS the payload — re-apply
          // as the replica's own zero-file predicate tombstone (same
          // era scoping, since replay preserves relative order)
          connector.loadTable(targetTable)
            .deleteWhereMor(org.apache.spark.sql.functions.expr(pred))
          applied += 1
        } else {
          val f = data.getDeleteKeys(sourceTable, id)
          try {
            applied += f.rows
            connector.loadTable(targetTable).deleteKeysMor(f.df)
          } finally f.cleanup()
        }
        prev = id
      }
    }
    flushAppends(head)
    ("incremental_oplog", applied, head)
  }

  /** Apply a `get_diff` changelog to the replica: next = current ∖
    * deletes ⊎ inserts (multiset), committed via the replica table's
    * own transactional [[graft.warehouse.GraftTable.replace]] — ONE
    * CAS snapshot swaps the visible file set, so a concurrent replica
    * reader observes either the pre- or post-apply table (the old
    * drop-and-recreate exposed a missing-table gap, and a crash
    * between the two steps stranded the staged data until a later
    * full resync). A crash mid-apply now leaves only orphan data
    * files with the old head intact. Wire cost is the DELTA only;
    * the replica-local rewrite is the price of a keyless row-level
    * apply, and still strictly cheaper than [[fullResync]], which
    * pays that rewrite AND ships the whole table. `rowsSynced`
    * reports change rows applied. */
  private def diffSync(data: FlightClient, sourceTable: String,
      connector: Connector, targetTable: String,
      since: Long): (String, Long, Long) = {
    import org.apache.spark.sql.functions.col
    val f = data.getDiff(sourceTable, since)
    try {
      if (f.snapshotId == since) ("up_to_date", 0L, since)
      else {
        // a changelog read with the source's evolved schema evolves
        // the replica first, then applies aligned to the replica's
        // column order (exceptAll resolves positionally)
        alignForDelta(data, sourceTable, connector, targetTable,
          org.apache.spark.sql.types.StructType(
            f.df.schema.fields.filterNot(_.name == "_change_type")))
        // a window that netted to nothing (maintenance, or churn that
        // cancels) leaves the replica's rows as they are
        if (f.rows == 0) return ("incremental_diff", 0L, f.snapshotId)
        val tgtCols = connector.loadTable(targetTable).schema.fieldNames.toSeq
        val ins = f.df.filter(col("_change_type") === "insert")
          .select(tgtCols.map(col): _*)
        val del = f.df.filter(col("_change_type") === "delete")
          .select(tgtCols.map(col): _*)
        connector.replaceTable(targetTable,
          connector.query(targetTable).select(tgtCols.map(col): _*)
            .exceptAll(del).unionByName(ins))
        ("incremental_diff", f.rows, f.snapshotId)
      }
    } finally f.cleanup()
  }

  def performSync(client: FlightClient, sourceUrl: String, sourceTable: String,
      connector: Connector, targetTable: String, state: SyncState): SyncResult = {
    val prev = state.load(sourceUrl, targetTable).norm
    try {
      // Data-plane reads follow the endpoint advertised for the table
      // (reference: `icerunner.py:925-934`); control-plane metadata stays
      // on the configured connection.
      lazy val data = client.forEndpoint(sourceTable)
      // For every branch that COPIES data, the recorded source snapshot
      // is the id the data was read at (pinned server-side and echoed in
      // the response) — never a separately-fetched metadata value, which
      // would race with concurrent appends and double-sync the gap on
      // the next tick. The data-free adoption branch may use metadata.
      val (status, rows, srcSnap) =
        if (!connector.tableExists(targetTable)) {
          val f = data.doGet(sourceTable)
          try {
            connector.createTable(targetTable, f.df)
            applyLayout(client, sourceTable, connector, targetTable)
            ("full_sync", connector.count(targetTable), f.snapshotId)
          } finally f.cleanup()
        } else prev.sourceSnapshotId match {
          case Some(l) =>
            try {
              val f = data.getChanges(sourceTable, l)
              try {
                if (f.snapshotId == l) ("up_to_date", 0L, l)
                else {
                  val n = f.rows
                  if (n > 0) {
                    // additive source evolution: widen the replica and
                    // keep appending deltas (pre-evolution files in
                    // the window read as nulls in the new columns,
                    // matching the source's own read rule)
                    alignForDelta(data, sourceTable, connector,
                      targetTable, f.df.schema)
                    val tgtCols =
                      connector.loadTable(targetTable).schema.fieldNames.toSeq
                    connector.insert(targetTable,
                      f.df.select(tgtCols.map(
                        org.apache.spark.sql.functions.col): _*))
                  }
                  ("incremental", n, f.snapshotId)
                }
              } finally f.cleanup()
            } catch {
              // The append-only incremental read refused: either a
              // rewrite (upsert/delete/replace) sits in (L, head] or L
              // itself has expired — both relayed as the structured
              // history_expired code. First try the CHANGELOG path:
              // get_diff crosses rewrites and ships only the delta. If
              // the diff base is also unknowable (manifests truly
              // expired), self-heal with the full replica rebuild.
              case Wire.ServiceError("history_expired", _) =>
                // Escalation ladder: op-log replay (appends + MOR
                // deletes, cheapest) → changelog diff → full rebuild.
                // oplogSync validates BEFORE mutating, so its
                // not-replayable refusal is safe to catch here; any
                // failure AFTER replay began must go straight to the
                // rebuild (replace converges over a partial apply),
                // never to diffSync (which diffs against replica state).
                try oplogSync(data, sourceTable, connector, targetTable, l)
                catch {
                  case _: OplogNotReplayable =>
                    // ANY diff-apply failure falls back to the rebuild,
                    // not just an expired base: e.g. a source schema
                    // evolution makes the changelog wider than the
                    // replica and the multiset apply throws — the full
                    // copy carries the new schema and recovers. The
                    // self-heal guarantee must never be narrower than it
                    // was before the changelog path existed (and q108 +
                    // ServiceSpec pin that the upsert case still takes
                    // the cheap path, so this cannot mask a systemic
                    // diff regression as permanent full copies).
                    try diffSync(data, sourceTable, connector, targetTable, l)
                    catch {
                      case NonFatal(diffErr) =>
                        // keep the diagnostic: a systemic diff regression
                        // would otherwise read as silent full copies
                        System.err.println(s"[mirror] changelog apply for " +
                          s"$sourceTable failed (${diffErr.getClass.getSimpleName}: " +
                          s"${diffErr.getMessage}); falling back to full rebuild")
                        fullResync(data, sourceTable, connector, targetTable)
                    }
                  case NonFatal(replayErr) =>
                    System.err.println(s"[mirror] oplog replay for " +
                      s"$sourceTable failed (${replayErr.getClass.getSimpleName}: " +
                      s"${replayErr.getMessage}); falling back to full rebuild")
                    fullResync(data, sourceTable, connector, targetTable)
                }
              // a delta APPLY failure (e.g. a non-additive schema
              // change evolveForDelta refuses) self-heals via the
              // rebuild, which ships the new schema wholesale — the
              // replica must converge, not error forever; the
              // diagnostic keeps a systemic regression visible (q108 +
              // ServiceSpec pin that the cheap paths still run)
              case NonFatal(e) =>
                System.err.println(s"[mirror] incremental apply for " +
                  s"$sourceTable failed (${e.getClass.getSimpleName}: " +
                  s"${e.getMessage}); falling back to full rebuild")
                fullResync(data, sourceTable, connector, targetTable)
            }
          case None =>
            // Existing target with no state: adopt the current source
            // snapshot as the baseline instead of re-appending everything
            // (the reference's behavior) — explicit choice, see scaladoc.
            ("adopted", 0L, client.getMetadata(sourceTable).snapshotId)
        }

      state.save(sourceUrl, targetTable, SyncState.State(
        System.currentTimeMillis(), Some(srcSnap),
        connector.getCurrentSnapshotId(targetTable), rows, status))
      SyncResult(status, rows, Some(srcSnap))
    } catch {
      case NonFatal(e) =>
        // a failed tick may mean the advertised endpoint moved —
        // re-resolve it on the next attempt instead of failing forever
        client.invalidateEndpoint(sourceTable)
        state.save(sourceUrl, targetTable, prev.copy(
          lastSyncTime = System.currentTimeMillis(),
          lastSyncStatus = s"error: ${e.getMessage}"))
        SyncResult(s"error: ${e.getMessage}", 0L, prev.sourceSnapshotId)
    }
  }

  /** Continuous mirroring loop (reference: `icerunner.py:1136-1155`).
    * `iterations = Some(1)` gives the `--one-time` mode. */
  def run(client: FlightClient, sourceUrl: String, sourceTableOpt: Option[String],
      connector: Connector, targetTable: String, state: SyncState,
      intervalMs: Long, iterations: Option[Int] = None): Unit = {
    // Resolve the source table from the URL path or remote discovery
    // (reference: `icerunner.py:874-888`).
    val sourceTable = sourceTableOpt.orElse(client.listTables().headOption)
      .getOrElse(throw new NoSuchElementException("no source table found"))
    var i = 0
    var continue = true
    while (continue) {
      val r = performSync(client, sourceUrl, sourceTable, connector,
        targetTable, state)
      println(s"[mirror] $sourceTable -> $targetTable: ${r.status} " +
        s"(${r.rowsSynced} rows, source snapshot ${r.sourceSnapshot.getOrElse(-1L)})")
      i += 1
      continue = iterations.forall(i < _)
      if (continue) Thread.sleep(intervalMs)
    }
  }
}
