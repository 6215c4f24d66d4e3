package graft.service

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

/** Per-(source, target) replication state, persisted as one small JSON
  * file — same layout and fields as the reference's `SyncState`
  * (`icerunner.py:803-843`): file name `md5(source)[:8]_{target}.json`,
  * fields last_sync_time, source_snapshot_id, target_snapshot_id,
  * rows_synced, last_sync_status.
  */
final class SyncState(stateDir: Path) {
  Files.createDirectories(stateDir)

  def statePath(sourceUrl: String, targetTable: String): Path = {
    val md = MessageDigest.getInstance("MD5")
      .digest(sourceUrl.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)
    stateDir.resolve(s"${md}_$targetTable.json")
  }

  def load(sourceUrl: String, targetTable: String): SyncState.State = {
    val p = statePath(sourceUrl, targetTable)
    if (!Files.exists(p)) SyncState.State.empty
    else {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      implicit val fmts: Formats = DefaultFormats
      val v = JsonMethods.parse(Files.readString(p))
      SyncState.State(
        (v \ "last_sync_time").extractOrElse[Long](0L),
        (v \ "source_snapshot_id").extractOpt[Long],
        (v \ "target_snapshot_id").extractOpt[Long],
        (v \ "rows_synced").extractOrElse[Long](0L),
        (v \ "last_sync_status").extractOrElse[String]("never"))
    }
  }

  def save(sourceUrl: String, targetTable: String, s: SyncState.State): Unit = {
    val p = statePath(sourceUrl, targetTable)
    val json = Wire.obj(
      "last_sync_time" -> s.lastSyncTime,
      "source_snapshot_id" -> Wire.JNum(s.sourceSnapshotId.getOrElse(-1L)),
      "target_snapshot_id" -> Wire.JNum(s.targetSnapshotId.getOrElse(-1L)),
      "rows_synced" -> s.rowsSynced,
      "last_sync_status" -> s.lastSyncStatus)
    val tmp = graft.warehouse.SnapshotLog.writeTemp(stateDir, ".sync-", json)
    Files.move(tmp, p, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}

object SyncState {
  final case class State(
      lastSyncTime: Long,
      sourceSnapshotId: Option[Long],
      targetSnapshotId: Option[Long],
      rowsSynced: Long,
      lastSyncStatus: String) {
    // -1 sentinels round-trip back to None
    def norm: State = copy(
      sourceSnapshotId = sourceSnapshotId.filter(_ >= 0),
      targetSnapshotId = targetSnapshotId.filter(_ >= 0))
  }
  object State {
    val empty: State = State(0L, None, None, 0L, "never")
  }

  def apply(dir: String): SyncState = new SyncState(Paths.get(dir))
}
