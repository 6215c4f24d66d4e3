package graft

import graft.warehouse.{SnapshotLog, Staged}

/** Child main for the CROSS-PROCESS commit-race spec (PropertySpec):
  * each instance is a separate JVM hammering the same table dir's
  * snapshot log with `n` commits through its one commit loop. No Spark
  * involved — SnapshotLog's commit protocol is pure NIO, which is
  * exactly what makes it multi-WRITER-safe across processes: the `link(2)` EEXIST CAS is a
  * filesystem primitive, not a JVM lock (in-JVM races can never prove
  * that; `rename(2)` would pass in-JVM and silently lose commits
  * across processes).
  */
object CommitRaceChild {
  def main(args: Array[String]): Unit = {
    val dir = java.nio.file.Paths.get(args(0))
    val writer = args(1)
    val n = args(2).toInt
    val log = new SnapshotLog(dir)
    var i = 1
    while (i <= n) {
      val files = Seq(s"data/$writer-$i.parquet")
      log.publish("append", SnapshotLog.RelinkLimit)(_ =>
        Right(Staged("append", files, "{}")))
      i += 1
    }
    println(s"done $writer")
  }
}
