package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.service.{FlightClient, FlightService}
import graft.warehouse.Connector

/** One client operation as the client saw it. */
final case class OpRec(cls: String, name: String, durNs: Long, rows: Long, ok: Boolean)

/** Everything one run shares: the session, the tracer, the seeded random
  * source, the warehouse the workload set up, and the operation log. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val rnd: Random) {
  var warehouse: Path = _
  var connector: Connector = _
  var service: FlightService = _
  var client: FlightClient = _

  /** True inside the timed window; operations outside it are checked and
    * counted as attempted, but not timed. */
  var timing = false
  val ops = ArrayBuffer.empty[OpRec]
  var attempted = 0
  var failed = 0
  val problems = ArrayBuffer.empty[String]
  var untimedNs = 0L
  /** Per-layer values measured directly rather than from spans. */
  val layer = scala.collection.mutable.Map.empty[String, Double]
  /** Replication lag samples: source write acknowledged to sync done, ms. */
  val lags = ArrayBuffer.empty[Double]

  def df(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** A fresh warehouse with the Flight service in front of it. */
  def openWarehouse(dir: Path): Unit = {
    warehouse = dir
    connector = new Connector(spark, dir.toString)
    service = new FlightService(connector)
    client = new FlightClient(spark, "localhost", service.boundPort)
  }

  def close(): Unit = if (service != null) { service.close(); service = null }

  /** Run one operation of class `cls`; `body` returns its result and the
    * rows it moved. A thrown error counts as a failed operation. */
  def op[A](cls: String, name: String)(body: => (A, Long)): Option[A] = {
    attempted += 1
    tracer.beginOp()
    val t0 = System.nanoTime()
    try {
      val (a, rows) = tracer.span("bench." + name)(body)
      if (timing) ops += OpRec(cls, name, System.nanoTime() - t0, rows, ok = true)
      Some(a)
    } catch {
      case NonFatal(e) =>
        failed += 1
        if (timing) ops += OpRec(cls, name, System.nanoTime() - t0, 0L, ok = false)
        problems += s"$name failed: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        None
    }
  }

  /** Work inside the timed window whose time is not counted. */
  def untimed[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally untimedNs += System.nanoTime() - t0
  }

  /** An output check, untimed. A mismatch or an error counts as a failed
    * operation. */
  def check(what: String)(ok: => Boolean): Unit = untimed {
    val good = try ok catch {
      case NonFatal(e) => problems += s"check $what threw: $e".take(300); false
    }
    if (!good) { failed += 1; problems += s"check failed: $what" }
  }

  /** `Connector.sql`, timed as planning up to the executed plan, then
    * execution up to the collected result. */
  def sql(c: Connector, q: String): Array[Row] = {
    val df = tracer.span("warehouse.sqlPlan") {
      val d = c.sql(q)
      d.queryExecution.executedPlan
      d
    }
    tracer.span("warehouse.sqlExec")(df.collect())
  }
}

/** One traffic mix. `setup` builds its warehouse from nothing (it runs
  * several times to time set-up), `cycle` issues one round of operations
  * whose mix is fixed and whose order and parameters are seeded, and
  * `finish` checks the end state. */
trait Workload {
  /** Generate the inputs from the seed; runs once, untimed. */
  def prepare(ctx: Ctx): Unit
  def setup(ctx: Ctx): Unit
  def teardown(ctx: Ctx): Unit = ()
  def cycle(ctx: Ctx): Unit
  def finish(ctx: Ctx): Unit
  /** The table the traced run probes, and the key columns of its rows. */
  def probeTable: String
  def probeKeys: Seq[String]
  /** Human-readable input sizes for the report. */
  def sizes: String
}

object Main {
  val SetupRepeats = 3
  /** Timed cycles after which stored bytes and live heap are read. */
  val StateCycles = 2

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.get("trace").contains("1")
    val work = Paths.get(a("work")).toAbsolutePath
    val wl: Workload = name match {
      case "mirror" => new MirrorWorkload
      case "curate" => new CurateWorkload
      case other => sys.error(s"unknown workload $other")
    }
    val heap = new HeapWatch
    val tracer = new Tracer(traced)
    val start = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - start) / 1e9}%.1f s: $what")

    val spark = graft.Main.session("perfbench")
    tracer.attach(spark)
    val sessionS = (System.nanoTime() - start) / 1e9

    val ctx = new Ctx(spark, tracer, new Random(seed))
    wl.prepare(ctx)
    val setupS = (1 to SetupRepeats).map { i =>
      if (i > 1) { wl.teardown(ctx); ctx.close() }
      val s0 = System.nanoTime()
      ctx.openWarehouse(work.resolve(s"setup$i"))
      wl.setup(ctx)
      (System.nanoTime() - s0) / 1e9
    }
    phase("set up")
    heap.sample()
    // one untimed cycle: JIT, codegen and lazy set-up settle before timing
    wl.cycle(ctx)
    phase("warmed up")

    val threads0 = Thread.activeCount()
    val gc0 = heap.gcMs
    ctx.timing = true
    ctx.untimedNs = 0L
    val l0 = System.currentTimeMillis()
    val w0 = System.nanoTime()
    def wallNs = System.nanoTime() - w0 - ctx.untimedNs
    // Stored bytes and live heap depend on how much was written, so they
    // are read after a fixed number of cycles, not wherever time runs out.
    var forcedGcMs = 0L
    def stateNow() = {
      val g = heap.gcMs
      heap.sample()
      forcedGcMs += heap.gcMs - g
      (dirBytes(ctx.warehouse), ctx.connector.tables.map(ctx.connector.count).sum)
    }
    // each timed cycle: its timed length in seconds and the operations it completed
    val cycles = ArrayBuffer.empty[(Double, Int)]
    var state: Option[(Long, Long)] = None
    while (wallNs < seconds * 1e9) {
      val c0 = wallNs
      val n0 = ctx.ops.count(_.ok)
      wl.cycle(ctx)
      cycles += (((wallNs - c0) / 1e9, ctx.ops.count(_.ok) - n0))
      if (cycles.size == StateCycles) state = Some(ctx.untimed(stateNow()))
    }
    val timedNs = wallNs
    val loopMs = (l0, System.currentTimeMillis())
    val gcMs = heap.gcMs - gc0 - forcedGcMs
    ctx.timing = false
    val threadsDelta = Thread.activeCount() - threads0
    phase(s"timed loop done: ${cycles.size} cycles")
    val (storedBytes, liveRows) = state.getOrElse(stateNow())

    wl.finish(ctx)
    phase("checked")
    if (traced) Probes.run(ctx, wl)
    tracer.drain()

    val report = new Report(name, ctx, wl, sessionS, setupS, cycles.toSeq, timedNs, loopMs, gcMs,
      threadsDelta, heap.peakLiveBytes, spark.sparkContext.defaultParallelism,
      storedBytes, liveRows)
    report.printHuman()
    if (traced) a.get("trace-out").foreach(p => tracer.writeJsonl(Paths.get(p)))
    wl.teardown(ctx)
    ctx.close()
    val metrics = if (traced) report.perLayer else report.endToEnd
    println(Report.json(ctx.failed == 0, ctx.attempted, ctx.failed, metrics))
    System.out.flush()
    phase("reported")
    spark.stop()
    phase("stopped")
    sys.exit(0)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    }
}
