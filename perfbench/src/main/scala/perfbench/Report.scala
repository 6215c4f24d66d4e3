package perfbench

/** Turns one run's operation log, spans and listener counts into the
  * metrics the benchmark reports. */
final class Report(workload: String, ctx: Ctx, wl: Workload, sessionS: Double,
    setupS: Seq[Double], cycles: Seq[(Double, Int)], timedNs: Long, loopMs: (Long, Long), gcMs: Long,
    threadsDelta: Int, peakLiveBytes: Long, cores: Int, storedBytes: Long,
    liveRows: Long) {
  import Report._

  private val ops = ctx.ops.toSeq
  private val timedS = timedNs / 1e9
  private def ms(cls: String*) =
    ops.filter(o => cls.isEmpty || cls.contains(o.cls)).map(_.durNs / 1e6)
  private def rowsOf(cls: String*) = ops.filter(o => cls.contains(o.cls)).map(_.rows).sum

  /** Operations completed per second in the median timed cycle. Every
    * cycle issues the same mix, so a cycle slowed by a passing stall of
    * the host, or by the first run of a code path, does not move it. */
  private val opsPerS = median(cycles.map { case (s, n) => n / s })

  val endToEnd: Seq[(String, Double, String)] = Seq(
    ("setup_s", sessionS + median(setupS), "s"),
    ("ops_per_s", opsPerS, "1/s"),
    ("write_p50_ms", median(ms("write")), "ms"),
    ("stored_bytes_per_row", storedBytes.toDouble / math.max(1L, liveRows), "B/row"),
    ("heap_peak_mb", peakLiveBytes / 1048576.0, "MB"))

  /** Per operation class: sample count, median and p90. A run times too
    * few operations for p90 to have ten samples beyond it, so p90 is
    * printed for reading, not gated. */
  private def byClass: Seq[(String, Double, String)] = {
    def lat(cls: String) = {
      val xs = ms(cls)
      if (xs.isEmpty) Nil
      else Seq((s"${cls}_n", xs.size.toDouble, "count"), (s"${cls}_p50_ms", median(xs), "ms"),
        (s"${cls}_p90_ms", pct(xs, 0.9), "ms"))
    }
    Seq("write", "read", "sync", "compute").flatMap(lat) ++
      Seq(("op_p50_ms", median(ms()), "ms"), ("op_p90_ms", pct(ms(), 0.9), "ms"),
        ("rows_in_per_s", rowsOf("write") / timedS, "rows/s"),
        ("rows_per_s", ops.map(_.rows).sum / timedS, "rows/s")) ++
      (if (ctx.lags.nonEmpty) Seq(("lag_p50_ms", median(ctx.lags.toSeq), "ms")) else Nil) ++
      Seq(("failed_ratio", ctx.failed.toDouble / math.max(1, ctx.attempted), "ratio"))
  }

  lazy val perLayer: Seq[(String, Double, String)] = {
    val tr = ctx.tracer
    val nOps = math.max(1, ops.size)
    def med(names: String*) = median(names.flatMap(tr.named).map(_.durNs / 1e6))
    def jobsPerCall(names: String*) = {
      val js = names.flatMap(tr.jobsUnder)
      if (js.isEmpty) 0.0 else js.map(_._1).sum.toDouble / js.size
    }
    val (l0, l1) = loopMs
    val (loopJobs, loopTaskMs, batches) = tr.synchronized {
      val js = tr.jobs.filter(j => j.timeMs >= l0 && j.timeMs <= l1).toSeq
      (js, js.flatMap(_.stages).map(tr.taskMsByStage.getOrElse(_, 0L)).sum, tr.batches.toSeq)
    }
    def batchMed(keys: String*) = median(batches.map(b => keys.map(b.getOrElse(_, 0L)).sum.toDouble))
    val opCalls = Seq("operators.crossNearDupFilter", "operators.bruteForceTopK", "operators.ivfTopK")
    val opJobs = opCalls.flatMap(tr.jobsUnder)
    val loopSpans = tr.spans.filter(s => s.startMs >= l0 && s.startMs <= l1)
    val childNs = loopSpans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    def selfMs(layer: String) = loopSpans.filter(_.layer == layer)
      .map(s => s.durNs - childNs.getOrElse(s.id, 0L)).sum / 1e6 / nOps
    def layerValue(k: String) = ctx.layer.getOrElse(k, 0.0)
    Seq(
      ("service.control_rtt_ms", med("service.getFlightInfo"), "ms"),
      ("service.arrow_encode_ms_per_krow", layerValue("service.arrow_encode_ms_per_krow"), "ms/krow"),
      ("service.arrow_decode_ms_per_krow", layerValue("service.arrow_decode_ms_per_krow"), "ms/krow"),
      ("service.wire_bytes_per_row", layerValue("service.wire_bytes_per_row"), "B/row")) ++
    SyncStatuses.map(s => (s"service.sync_status.$s", layerValue(s"service.sync_status.$s"), "count")) ++
    Seq(
      ("service.sync_delta_ratio", layerValue("service.sync_delta_ratio"), "ratio"),
      ("service.rows_shipped_per_changed_row", layerValue("service.rows_shipped_per_changed_row"), "ratio"),
      ("warehouse.append_ms", med("warehouse.insert"), "ms"),
      ("warehouse.append_jobs", jobsPerCall("warehouse.insert"), "count"),
      ("warehouse.files_per_append", layerValue("warehouse.files_per_append"), "count"),
      ("warehouse.upsert_ms", med("warehouse.upsert"), "ms"),
      ("warehouse.upsert_jobs", jobsPerCall("warehouse.upsert"), "count"),
      ("warehouse.delete_ms", med("warehouse.delete"), "ms"),
      ("warehouse.delete_jobs", jobsPerCall("warehouse.delete"), "count"),
      ("warehouse.load_table_ms", med("warehouse.loadTable"), "ms"),
      ("warehouse.sql_plan_ms", med("warehouse.sqlPlan"), "ms"),
      ("warehouse.sql_exec_ms", med("warehouse.sqlExec"), "ms"),
      ("warehouse.sql_jobs", jobsPerCall("warehouse.sqlPlan") + jobsPerCall("warehouse.sqlExec"), "count"),
      ("warehouse.readwhere_ms", med("warehouse.readWhere"), "ms"),
      ("warehouse.scan_file_ratio", layerValue("warehouse.scan_file_ratio"), "ratio"),
      ("streaming.batch_ms", batchMed("triggerExecution"), "ms"),
      ("streaming.add_batch_ms", batchMed("addBatch"), "ms"),
      ("streaming.wal_commit_ms", batchMed("walCommit", "commitOffsets"), "ms"),
      ("streaming.jobs_per_batch",
        if (batches.isEmpty) 0.0 else tr.jobsUnder("streaming.processAllAvailable").map(_._1).sum.toDouble / batches.size,
        "count"),
      ("operators.dedup_ms", med("operators.crossNearDupFilter"), "ms"),
      ("operators.topk_ms", med("operators.bruteForceTopK", "operators.ivfTopK"), "ms"),
      ("operators.jobs_per_call", if (opJobs.isEmpty) 0.0 else opJobs.map(_._1).sum.toDouble / opJobs.size, "count"),
      ("operators.shuffle_bytes_per_call", if (opJobs.isEmpty) 0.0 else opJobs.map(_._3).sum.toDouble / opJobs.size, "B"),
      ("spark.jobs_per_op", loopJobs.size.toDouble / nOps, "count"),
      ("spark.task_ms_per_op", loopTaskMs.toDouble / nOps, "ms"),
      ("spark.idle_ratio", 1.0 - loopTaskMs / ((l1 - l0).toDouble * cores), "ratio"),
      ("jvm.gc_ms_per_op", gcMs.toDouble / nOps, "ms"),
      ("jvm.threads_delta", threadsDelta.toDouble, "count")) ++
    Layers.map(l => (s"self.${l}_ms_per_op", selfMs(l), "ms")) ++
    Seq(
      ("trace.ops_per_s", opsPerS, "1/s"),
      ("trace.spans", tr.spans.size.toDouble, "count"))
  }

  def printHuman(): Unit = {
    println(s"workload $workload: ${wl.sizes}")
    println(f"timed ${ops.size} ops in $timedS%.2f s; set-up: session $sessionS%.3f s + " +
      setupS.map(s => f"$s%.3f").mkString("[", ", ", "] s"))
    println("timed cycles: " + cycles.map(c => f"${c._1}%.2f").mkString("[", ", ", "] s"))
    println("operation medians: " + ops.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, os) =>
      f"$n ${median(os.map(_.durNs / 1e6))}%.0f ms (${os.size})" }.mkString(", "))
    ctx.problems.take(20).foreach(p => println(s"PROBLEM $p"))
    (endToEnd ++ byClass).foreach { case (n, v, u) => println(f"metric $n%-22s $v%14.4f $u") }
    if (ctx.tracer.enabled)
      perLayer.foreach { case (n, v, u) => println(f"layer  $n%-40s $v%14.4f $u") }
  }
}

object Report {
  /** Every status `Mirror.performSync` reports, each counted on its own. */
  val SyncStatuses = Seq("full_sync", "up_to_date", "incremental", "incremental_oplog",
    "incremental_diff", "full_resync", "error")
  val Layers = Seq("bench", "service", "warehouse", "streaming", "operators")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Linear-interpolated percentile, as numpy's default. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = r.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def json(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (n, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n": {"value": $x, "unit": "$u"}"""
    }.mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""", ", ", "}}")
}
