package graft.warehouse

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.DataFrame

/** Incremental local consumption of a warehouse table — the Spark-first
  * upgrade of the reference's polling reader (`icerunner.py:716-736`),
  * which re-reads and re-counts the FULL table every tick.
  *
  * Each tick feeds `fn` exactly the rows appended since the recorded
  * snapshot (pinned at the head observed at tick start, so a concurrent
  * append is neither missed nor double-fed) and persists the offset
  * AFTER `fn` returns — at-least-once across crashes, like the mirror.
  * When source history has been expired past the recorded offset the
  * delta is unknowable ([[HistoryExpiredException]]); the follower
  * self-heals by re-feeding the full table with `full = true` so the
  * consumer can reset its downstream state, then resumes incrementally.
  */
object Follower {

  final case class Tick(status: String, rows: Long, snapshotId: Long)

  /** One poll tick. `fn(df, full)`: `full = true` means `df` is the
    * whole table (initial feed or post-expiry re-sync) rather than a
    * delta. The feed is persisted around (count, fn) so each tick reads
    * the underlying files once; the offset advances only after `fn`
    * returns. */
  def followOnce(table: GraftTable, offsetFile: Path)(
      fn: (DataFrame, Boolean) => Unit): Tick = {
    val head = table.currentSnapshotId.getOrElse(0L)
    def feed(df: DataFrame, full: Boolean, status: String): Tick = {
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val n = df.count()
        fn(df, full)
        writeOffset(offsetFile, head)
        Tick(status, n, head)
      } finally df.unpersist()
    }
    readOffset(offsetFile) match {
      case Some(l) if l == head => Tick("up_to_date", 0L, head)
      case Some(l) if l > head =>
        // offset from a previous incarnation (table dropped/rebuilt):
        // the recorded position does not exist in this history — re-feed
        // everything rather than silently fast-forwarding past rows
        feed(table.read(Some(head)), full = true, "full_resync")
      case Some(l) =>
        try feed(table.changesSince(l, head), full = false, "incremental")
        catch {
          case _: HistoryExpiredException =>
            feed(table.read(Some(head)), full = true, "full_resync")
        }
      case None => feed(table.read(Some(head)), full = true, "full")
    }
  }

  /** Continuous follow loop; `iterations = Some(1)` gives one-shot. */
  def run(table: GraftTable, offsetFile: Path, intervalMs: Long,
      iterations: Option[Int] = None)(
      fn: (DataFrame, Boolean) => Unit): Tick = {
    var i = 0
    var continue = true
    var last = Tick("never", 0L, 0L)
    while (continue) {
      last = followOnce(table, offsetFile)(fn)
      i += 1
      continue = iterations.forall(i < _)
      if (continue) Thread.sleep(intervalMs)
    }
    last
  }

  private def readOffset(p: Path): Option[Long] =
    if (!Files.exists(p)) None
    else {
      val s = Files.readString(p).trim
      if (s.isEmpty) None else Some(s.toLong)
    }

  private def writeOffset(p: Path, id: Long): Unit = {
    val dir = Option(p.toAbsolutePath.getParent)
      .getOrElse(throw new IllegalArgumentException(s"offset path has no parent: $p"))
    Files.createDirectories(dir)
    val tmp = SnapshotLog.writeTemp(dir, ".offset-", id.toString)
    // REPLACE is correct for offsets: single follower, last write wins
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}
