package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Optimization-round measurement harness (guide §1): runs ONE query
  * under a SparkListener and prints a per-job time breakdown (job id,
  * duration, description/callsite) plus stage-level shuffle bytes, so
  * a multi-commit rig's wall time can be attributed to its actions
  * instead of guessed at. Also dumps the final frame's
  * `explain("formatted")` when a dump path is given.
  *
  * Usage: runMain graft.Profile <queryName> [planOutPath]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default:
  * the processor count, like every entry point).
  * Not part of the driver contract — a local measurement aid only.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: Profile <query> [planOut]"))
    val planOut = args.lift(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Main.session("graft-profile")
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))

    // warm-up: absorb JIT/codegen/footer costs exactly like Bench
    fn(spark, sfDir).count()

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
    val shuffle = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(j.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .filter(_ != "?")
          // jobs submitted from Spark's SQL-execution pool carry no
          // callsite in their properties — fall back to the job's
          // first stage name (the operator + line that created it)
          .orElse(j.stageInfos.headOption
            .map(_.name.takeWhile(_ != '\n').take(70)))
          .getOrElse("?")
        jobs.put(j.jobId, (j.time, desc)); ()
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(j.jobId)).foreach { case (t0, desc) =>
          done.add((j.jobId, j.time - t0, desc)); ()
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        shuffle.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten); ()
      }
    }
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[
      (Int, String, Int, Long, Long, Long, Long, Long)]()
    val stageListener = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo; val m = i.taskMetrics
        stages.add((i.stageId, i.name.takeWhile(_ != '\n').take(90),
          i.numTasks, m.executorRunTime,
          m.inputMetrics.recordsRead,
          m.shuffleReadMetrics.recordsRead,
          m.shuffleWriteMetrics.bytesWritten,
          i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)))
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.addSparkListener(stageListener)
    // in-process wall-clock sampler (external attach/jstack is blocked
    // in the sandbox): every 20 ms record the top graft/spark frame of
    // each RUNNABLE non-worker thread, so driver-side gaps between jobs
    // can be attributed to code instead of guessed at
    val samples = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val sampling = new AtomicBoolean(true)
    // a loop costs the 20 ms sleep PLUS a full stack walk of every
    // thread, so a sample stands for the measured wall time per loop,
    // not a fixed 20 ms
    val loops = new java.util.concurrent.atomic.AtomicLong(0L)
    val sampler = new Thread(() => {
      while (sampling.get()) {
        val all = Thread.getAllStackTraces
        all.forEach { (t, frames) =>
          val n = t.getName
          if (t.getState == Thread.State.RUNNABLE &&
              !n.startsWith("Executor task launch") && n != "graft-sampler") {
            frames.find(f =>
                f.getClassName.startsWith("graft.") ||
                f.getClassName.startsWith("org.apache.spark.") ||
                f.getClassName.startsWith("org.apache.parquet.") ||
                f.getClassName.startsWith("org.apache.hadoop."))
              .foreach { f =>
                val key = (if (n == "main") "MAIN " else "other ") +
                  s"${f.getClassName.split('.').last}.${f.getMethodName}:${f.getLineNumber}"
                samples.merge(key, 1, (a, b) => a + b); ()
              }
          }
        }
        loops.incrementAndGet()
        Thread.sleep(20)
      }
    }, "graft-sampler")
    sampler.setDaemon(true)
    val samplingStart = System.nanoTime()
    sampler.start()
    val t0 = System.nanoTime()
    val df = fn(spark, sfDir)
    val planTime = (System.nanoTime() - t0) / 1e9
    df.count()
    val wall = (System.nanoTime() - t0) / 1e9
    sampling.set(false)
    sampler.join()
    val secPerSample =
      (System.nanoTime() - samplingStart) / 1e9 / math.max(1L, loops.get())
    spark.sparkContext.removeSparkListener(listener)

    planOut.foreach { p =>
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(p).getParent)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
    }

    import scala.jdk.CollectionConverters._
    val all = done.asScala.toSeq.sortBy(_._1)
    println(f"PROFILE $name wall=$wall%.3f s driver_build=$planTime%.3f s " +
      f"jobs=${all.size} shuffle_bytes=${shuffle.get()}")
    val byDesc = all.groupBy(_._3).view
      .mapValues(js => (js.size, js.map(_._2).sum)).toSeq
      .sortBy(-_._2._2)
    byDesc.take(25).foreach { case (desc, (n, ms)) =>
      println(f"  ${ms / 1000.0}%8.3f s  n=$n%-4d $desc")
    }
    val gaps = all.map(_._2).sum / 1000.0
    println(f"  job time total=$gaps%.3f s (wall minus this = driver-side gaps)")
    println(f"  top sampled frames (${loops.get()} samples of ${secPerSample * 1000}%.1f ms " +
      "wall each, RUNNABLE non-worker threads):")
    samples.entrySet().asScala.toSeq.sortBy(-_.getValue.intValue()).take(30)
      .foreach(e => println(f"    ${e.getValue.intValue() * secPerSample}%7.2f s  ${e.getKey}"))
    println("  top stages by wall (stage, tasks, execRunTime s, wall s, " +
      "inputRows, shufReadRows, shufWriteBytes):")
    stages.asScala.toSeq.sortBy(-_._8).take(15).foreach {
      case (id, nm, nt, ert, ir, srr, swb, wallMs) =>
        println(f"    s$id%-4d $nt%3d t ${ert / 1000.0}%8.2f ert " +
          f"${wallMs / 1000.0}%7.2f w  in=$ir%-9d sr=$srr%-9d sw=$swb%-10d $nm")
    }
    spark.stop()
  }
}
