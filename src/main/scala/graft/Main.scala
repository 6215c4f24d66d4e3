package graft

import org.apache.spark.sql.SparkSession

import graft.service.{Clients, FlightClient, FlightService, Mirror, SampleData, SyncState}
import graft.warehouse.Connector

/** CLI entry point (reference: `main()`, `icerunner.py:1158-1239`):
  * `serve | read | write | mirror | demo` with the reference's flags
  * (`-w -p -n -i -s -b --one-time`, plus `--iterations` so loops can be
  * bounded for scripting/tests — the reference's loops only stop on
  * SIGINT).
  */
object Main {

  /** App-status bounds: one JVM may run thousands of jobs (a full
    * `graft.Bench` run, a long-lived `serve` or `mirror`), and Spark's
    * status store otherwise keeps 1,000 jobs/stages, 100,000 tasks and
    * 1,000 SQL executions. Bounded, its footprint no longer grows with
    * run length (a full Bench run measured its late-sorted micro-batch
    * queries at ~1.5x their fresh-JVM cost from that accumulation). */
  private val RetainedJobs = 200
  private val RetainedStages = 200
  private val RetainedTasks = 2000
  private val RetainedExecutions = 50

  /** The ONE session builder of every entry point (CLI, Bench, Verify,
    * Profile): `local[SPARK_GRAFT_CPUS]`, else one thread per
    * available processor, with graft's SQL functions registered. */
  def session(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // cached plans otherwise keep their pre-AQE output partitioning:
      // every .persist() in the engine materialized tiny frames at the
      // full spark.sql.shuffle.partitions fan-out and pinned that
      // width on all downstream stages (32 near-empty tasks per job at
      // local[32]; q138's min/max-MV probe cache measured 1.7x slower
      // without this). Scale-independent: it simply lets AQE apply the
      // same coalescing to cached plans that uncached ones already get.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", RetainedJobs)
      .config("spark.ui.retainedStages", RetainedStages)
      .config("spark.ui.retainedTasks", RetainedTasks)
      .config("spark.sql.ui.retainedExecutions", RetainedExecutions)
      .config(ForkFreeLocalFs.sessionConf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val usage =
    s"""usage: graft.Main <command> [flags]
       |  serve  -w <warehouseDir> [-p <port=8816>] [-n <name=icerunner>] [-b <batchRows=4096>]
       |  read   [-p <port=8816>] -n <table> [-i <intervalSec=1>] [--iterations k]
       |  write  [-p <port=8816>] -n <table> [-i <intervalSec=1>] [-b <batchRows=4096>] [--iterations k]
       |  mirror -s <sourceUrl> -n <targetTable> -w <warehouseDir>
       |         [-i <intervalSec=60>] [-b <batchRows=4096>] [--one-time]
       |  fsck   <warehouseDir> [table]        # validate() manifests vs filesystem
       |  vacuum <warehouseDir> [table] [-g <graceMs=259200000>]  # remove orphan files
       |  maintain <warehouseDir> [table] [--expire true] [-g <graceMs>]  # binpack+tombstones+orphans
       |  inspect <warehouseDir> <table> <snapshots|files|partitions|refs|deletes|constraints>
       |  demo   <warehouseDir>""".stripMargin

  /** Tiny flag parser for the reference's CLI surface.
    * `--batch-size` aliases `-b` (reference: `icerunner.py:1199-1205`). */
  private[graft] def flags(args: List[String]): Map[String, String] = {
    def loop(as: List[String], acc: Map[String, String]): Map[String, String] =
      as match {
        case "--one-time" :: rest => loop(rest, acc + ("one-time" -> "true"))
        case "--batch-size" :: v :: rest => loop(rest, acc + ("b" -> v))
        case k :: v :: rest if k.startsWith("-") =>
          loop(rest, acc + (k.stripPrefix("--").stripPrefix("-") -> v))
        case Nil => acc
        case other :: _ =>
          throw new IllegalArgumentException(s"unexpected arg: $other")
      }
    loop(args, Map.empty)
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "demo" :: whPath :: Nil => demo(whPath)
    case "serve" :: rest => serve(flags(rest))
    case "read" :: rest => readCmd(flags(rest))
    case "write" :: rest => writeCmd(flags(rest))
    case "mirror" :: rest => mirrorCmd(flags(rest))
    case "fsck" :: whPath :: rest if rest.size <= 1 => fsck(whPath, rest.headOption)
    case "vacuum" :: whPath :: rest =>
      val (tbl, fl) = rest match {
        case t :: more if !t.startsWith("-") => (Some(t), flags(more))
        case more => (None, flags(more))
      }
      vacuum(whPath, tbl, fl.get("g").map(_.toLong))
    case "maintain" :: whPath :: rest =>
      val (tbl, fl) = rest match {
        case t :: more if !t.startsWith("-") => (Some(t), flags(more))
        case more => (None, flags(more))
      }
      maintainCmd(whPath, tbl, fl.get("expire").exists(_.toBoolean),
        fl.get("g").map(_.toLong))
    case "inspect" :: whPath :: table :: kind :: Nil => inspect(whPath, table, kind)
    case other =>
      System.err.println(usage + s"\n(got: ${other.mkString(" ")})")
      sys.exit(2)
  }

  /** Manifest-vs-filesystem audit over one table or the whole warehouse
    * (exit 1 when any issue is found — scriptable like a real fsck). */
  private def fsck(whPath: String, table: Option[String]): Unit = {
    val spark = session("graft-fsck")
    val conn = new Connector(spark, whPath)
    val targets = table.map(Seq(_)).getOrElse(conn.tables)
    var bad = 0
    targets.foreach { t =>
      val issues = conn.loadTable(t).validate()
      if (issues.isEmpty) println(s"$t: OK")
      else { bad += issues.size; issues.foreach(i => println(s"$t: $i")) }
    }
    spark.stop()
    if (bad > 0) sys.exit(1)
  }

  /** Orphan-file cleanup over one table or the whole warehouse
    * ([[graft.warehouse.GraftTable.removeOrphans]]): crashed writers'
    * debris reclaimed, age-gated so in-flight commits survive. */
  private def vacuum(whPath: String, table: Option[String],
      graceMs: Option[Long]): Unit = {
    val spark = session("graft-vacuum")
    val conn = new Connector(spark, whPath)
    val targets = table.map(Seq(_)).getOrElse(conn.tables)
    targets.foreach { t =>
      val removed = graceMs match {
        case Some(g) => conn.loadTable(t).removeOrphans(g)
        case None => conn.loadTable(t).removeOrphans()
      }
      println(s"$t: removed ${removed.size} orphan file(s)" +
        (if (removed.isEmpty) "" else removed.mkString(" [", ", ", "]")))
    }
    spark.stop()
  }

  /** One-call maintenance over one table or the whole warehouse
    * ([[graft.warehouse.GraftTable.maintain]]): binpack + position-
    * tombstone compaction + optional history expiry + orphan cleanup,
    * with a per-table report line. */
  private def maintainCmd(whPath: String, table: Option[String],
      expire: Boolean, graceMs: Option[Long]): Unit = {
    val spark = session("graft-maintain")
    val conn = new Connector(spark, whPath)
    val targets = table.map(Seq(_)).getOrElse(conn.tables)
    targets.foreach { t =>
      val r = conn.loadTable(t).maintain(
        expireHistory = expire,
        orphanGraceMs = graceMs.getOrElse(259200000L))
      println(s"$t: binpacked=${r.binpacked} posMerged=${r.posMerged} " +
        s"expired=${r.expired}" +
        r.expireRefusal.map(m => s" expireRefusal='$m'").getOrElse("") +
        s" orphansRemoved=${r.orphansRemoved.size}")
    }
    spark.stop()
  }

  /** Print a metadata table ($snapshots / $files) for a warehouse table. */
  private def inspect(whPath: String, table: String, kind: String): Unit = {
    val spark = session("graft-inspect")
    new Connector(spark, whPath).inspect(table, kind)
      .show(1000, truncate = false)
    spark.stop()
  }

  /** Bootstrap + serve (reference: `run_server`, `icerunner.py:669-713`):
    * `{name}` (analytics, 200 rows) + `{name}_events/_sales/_iot` demo
    * tables (100 rows each) if absent, then the Flight-shaped service. */
  private def serve(f: Map[String, String]): Unit = {
    val wh = f.getOrElse("w", sys.error("serve requires -w <warehouseDir>"))
    val port = f.getOrElse("p", "8816").toInt
    val name = f.getOrElse("n", "icerunner")
    val spark = session("graft-serve")
    val c = new Connector(spark, wh)
    if (!c.tableExists(name))
      c.createTable(name, SampleData.create(spark, 200, "analytics"))
    for (p <- Seq("events", "sales", "iot"); t = s"${name}_$p")
      if (!c.tableExists(t)) c.createTable(t, SampleData.create(spark, 100, p))
    val svc = new FlightService(c, port, f.getOrElse("b", "4096").toInt)
    println(s"[serve] warehouse=$wh port=${svc.boundPort} " +
      s"tables=${c.tables.mkString(",")}")
    // Serve until interrupted (reference sleeps its main thread, `:705-710`)
    Thread.currentThread().join()
  }

  private def readCmd(f: Map[String, String]): Unit = {
    val spark = session("graft-read")
    Clients.runReader(spark, "localhost", f.getOrElse("p", "8816").toInt,
      f.getOrElse("n", sys.error("read requires -n <table>")),
      (f.getOrElse("i", "1").toDouble * 1000).toLong,
      f.get("iterations").map(_.toInt))
  }

  private def writeCmd(f: Map[String, String]): Unit = {
    val spark = session("graft-write")
    Clients.runWriter(spark, "localhost", f.getOrElse("p", "8816").toInt,
      f.getOrElse("n", sys.error("write requires -n <table>")),
      (f.getOrElse("i", "1").toDouble * 1000).toLong,
      f.get("iterations").map(_.toInt),
      f.getOrElse("b", "4096").toInt)
  }

  private def mirrorCmd(f: Map[String, String]): Unit = {
    val sourceUrl = f.getOrElse("s", sys.error("mirror requires -s <sourceUrl>"))
    val target = f.getOrElse("n", sys.error("mirror requires -n <targetTable>"))
    val wh = f.getOrElse("w", sys.error("mirror requires -w <warehouseDir>"))
    val spark = session("graft-mirror")
    val (host, port, srcTable) = FlightClient.parseUrl(sourceUrl)
    val client = new FlightClient(spark, host, port, f.getOrElse("b", "4096").toInt)
    Mirror.run(client, sourceUrl, srcTable, new Connector(spark, wh), target,
      SyncState(s"$wh/_sync_state"),
      (f.getOrElse("i", "60").toDouble * 1000).toLong,
      if (f.contains("one-time")) Some(1)
      else f.get("iterations").map(_.toInt))
  }

  /** End-to-end warehouse round-trip, printing each step's observable
    * result. Doubles as the smoke demo the reference's README loop is. */
  private def demo(whPath: String): Unit = {
    val spark = session("graft-demo")
    import spark.implicits._
    val c = new Connector(spark, whPath)

    println(s"[demo] warehouse=$whPath")
    val created = c.createTable("events",
      Seq((1L, "click"), (2L, "view")).toDF("id", "etype"))
    println(s"[demo] create events -> $created")
    println(s"[demo] re-create events -> ${c.createTable("events", Seq((9L, "x")).toDF("id", "etype"))}")
    val s1 = c.getCurrentSnapshotId("events")
    println(s"[demo] snapshot after create -> $s1")
    c.insert("events", Seq((3L, "purchase"), (4L, "click")).toDF("id", "etype"))
    println(s"[demo] count after append -> ${c.count("events")}")
    val agg = c.sql(
      "SELECT etype, count(*) AS n FROM events GROUP BY etype ORDER BY etype")
      .collect().map(r => s"${r.get(0)}=${r.get(1)}").mkString(", ")
    println(s"[demo] sql group-by -> $agg")
    val changes = c.getChangesSinceSnapshot("events", s1.get).get
      .select("id").as[Long].collect().sorted.mkString(",")
    println(s"[demo] changes since snapshot ${s1.get} -> ids [$changes]")
    println(s"[demo] time-travel count asOf=1 -> ${c.loadTable("events").read(Some(1L)).count()}")
    println(s"[demo] tables -> ${c.tables.mkString(", ")}")
    try c.insert("events", Seq(("bad", 1L)).toDF("etype", "id"))
    catch { case e: IllegalArgumentException =>
      println(s"[demo] schema-mismatch append rejected: ${e.getMessage.linesIterator.next()}")
    }

    // Service round-trip on an ephemeral port: serve this warehouse,
    // write/read/mirror through the wire.
    val svc = new FlightService(c, 0)
    val client = new FlightClient(spark, "localhost", svc.boundPort)
    println(s"[demo] service tables -> ${client.listTables().mkString(", ")}")
    client.doPut("wired", SampleData.create(spark, 5, "default"))
    val wired = client.doGet("wired")
    try println(s"[demo] do_put new table wired -> ${wired.df.count()} rows")
    finally wired.cleanup()
    val mirrorWh = whPath + "-mirror"
    val r = Mirror.performSync(client, s"grpc://localhost:${svc.boundPort}/wired",
      "wired", new Connector(spark, mirrorWh), "wired_copy",
      SyncState(s"$mirrorWh/_sync_state"))
    println(s"[demo] mirror wired -> wired_copy: ${r.status} (${r.rowsSynced} rows)")
    svc.close()
    spark.stop()
  }
}
