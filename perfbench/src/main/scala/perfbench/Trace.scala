package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call at a layer boundary. `layer` is the prefix of `name`
  * before the first dot ("service.doPut" -> "service"). */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startMs: Long, endMs: Long, durNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
}

/** A Spark job as the listener saw it submitted. */
final case class Job(id: Int, timeMs: Long, stages: Seq[Int])

/** Spans kept in memory for one run, plus the Spark and streaming events
  * the attached listeners saw. With tracing off, [[span]] only runs its
  * body. Jobs are attributed afterwards to the innermost span open at
  * their submission time: the benchmark has one client thread, so that
  * span is the call that caused the job even when the job ran on a
  * service handler or stream execution thread. */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  /** Open spans, innermost first: (id, start ms, start ns). */
  private var stack: List[(Int, Long, Long)] = Nil
  private var nextId = 1
  private var op = 0

  def beginOp(): Unit = op += 1

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0)
      stack = (id, System.currentTimeMillis(), System.nanoTime()) :: stack
      try body
      finally {
        val (_, ms, ns) = stack.head
        stack = stack.tail
        spans += Span(id, name, parent, op, ms, System.currentTimeMillis(),
          System.nanoTime() - ns)
      }
    }

  // --- Spark listener: jobs, task time and shuffle bytes by stage -------
  // The listeners run on the listener-bus threads; they and every reader
  // of these buffers hold the Tracer's lock.
  val jobs = ArrayBuffer.empty[Job]
  @volatile var jobsEnded = 0
  val taskMsByStage = scala.collection.mutable.Map.empty[Int, Long]
  val shuffleBytesByStage = scala.collection.mutable.Map.empty[Int, Long]
  val batches = ArrayBuffer.empty[Map[String, Long]]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs += Job(e.jobId, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      Option(e.taskMetrics).foreach { m =>
        taskMsByStage(e.stageId) =
          taskMsByStage.getOrElse(e.stageId, 0L) + m.executorRunTime
        shuffleBytesByStage(e.stageId) =
          shuffleBytesByStage.getOrElse(e.stageId, 0L) +
            m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) Tracer.this.synchronized {
        batches += e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      }
  }

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until the listener bus has delivered every job end. */
  def drain(): Unit = if (enabled) {
    val deadline = System.currentTimeMillis() + 5000
    var quiet = 0
    var last = -1
    while (System.currentTimeMillis() < deadline && quiet < 3) {
      val n = synchronized(jobs.size)
      if (n == jobsEnded && n == last) quiet += 1 else quiet = 0
      last = n
      Thread.sleep(50)
    }
  }

  /** The innermost span open at `timeMs`, or 0 for none. */
  private def spanAt(timeMs: Long, byStart: Seq[Span]): Int =
    byStart.filter(s => s.startMs <= timeMs && timeMs <= s.endMs)
      .sortBy(s => (s.startMs, s.id)).lastOption.map(_.id).getOrElse(0)

  /** Jobs, task ms and shuffle bytes per span id. */
  lazy val perSpan: Map[Int, (Int, Long, Long)] = synchronized {
    val all = spans.toSeq
    jobs.toSeq.groupBy(j => spanAt(j.timeMs, all)).map { case (sid, js) =>
      val stages = js.flatMap(_.stages)
      sid -> (js.size, stages.map(taskMsByStage.getOrElse(_, 0L)).sum,
        stages.map(shuffleBytesByStage.getOrElse(_, 0L)).sum)
    }
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Span ids below `root`, inclusive. */
  def subtree(root: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Set[Int] = kids.getOrElse(id, Nil).flatMap(s => go(s.id)).toSet + id
    go(root)
  }

  /** Spark jobs caused by calls named `name`, including nested spans. */
  def jobsUnder(name: String): Seq[(Int, Long, Long)] =
    named(name).map { s =>
      val ids = subtree(s.id)
      val xs = ids.toSeq.flatMap(perSpan.get)
      (xs.map(_._1).sum, xs.map(_._2).sum, xs.map(_._3).sum)
    }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"dur_ms":${s.durNs / 1e6}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Live old-generation bytes, read right after full collections, and GC
  * time from the collector beans. A sample is the least of three
  * collections in a row: objects still reachable from work in flight on
  * other threads (listener bus, context cleaner) fall away between them,
  * and young collections' promoted garbage never counts. */
final class HeapWatch {
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val old = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  var peakLiveBytes = 0L

  def sample(): Unit = {
    val live = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(50)
      old.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).getOrElse(0L)
    }.min
    peakLiveBytes = math.max(peakLiveBytes, live)
  }

  def gcMs: Long = beans.map(b => math.max(0L, b.getCollectionTime)).sum
}
