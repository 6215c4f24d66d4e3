package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.service._
import graft.warehouse.Connector

class ServiceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def withService[A](f: (Connector, FlightClient, FlightService) => A): A = {
    val c = new Connector(spark, tmpDir("graft-svc"))
    val svc = new FlightService(c, 0)
    try f(c, new FlightClient(spark, "localhost", svc.boundPort), svc)
    finally svc.close()
  }

  test("arrow codec round-trips every supported type including nulls") {
    val schema = StructType(Seq(
      StructField("l", LongType), StructField("i", IntegerType),
      StructField("s", ShortType), StructField("b", ByteType),
      StructField("d", DoubleType), StructField("f", FloatType),
      StructField("str", StringType), StructField("bool", BooleanType),
      StructField("ts", TimestampType), StructField("bin", BinaryType),
      StructField("ntz", TimestampNTZType), StructField("dt", DateType)))
    val rows = Seq(
      Row(1L, 2, 3.toShort, 4.toByte, 5.5, 6.5f, "seven", true,
        java.sql.Timestamp.valueOf("2026-01-02 03:04:05.123456"),
        Array[Byte](1, 2, 3),
        java.time.LocalDateTime.parse("2026-01-02T03:04:05.123456"),
        java.sql.Date.valueOf("2026-01-02")),
      Row(null, null, null, null, null, null, null, null, null, null,
        null, null))
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.LocalTableScanExec
    import org.apache.spark.sql.functions.col
    // both encode paths: a distributed body streams through Spark jobs,
    // a driver-local one is encoded straight from its relation
    val distributed = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    val local = spark.createDataFrame(rows.asJava, schema)
    assert(!distributed.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec])
    assert(local.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec])
    for (df <- Seq(distributed, local)) {
      val bos = new java.io.ByteArrayOutputStream()
      assert(ArrowCodec.write(df, bos) === 2)
      val back = ArrowCodec.read(spark,
        new java.io.ByteArrayInputStream(bos.toByteArray)).df
      assert(back.schema === schema)
      val a = back.orderBy(col("l").asc_nulls_last).collect()
      val e = df.orderBy(col("l").asc_nulls_last).collect()
      assert(a.length === 2)
      // binary needs element-wise compare; the rest compares structurally
      val binIdx = schema.fieldIndex("bin")
      assert(a(0).toSeq.patch(binIdx, Nil, 1) === e(0).toSeq.patch(binIdx, Nil, 1))
      assert(a(0).getAs[Array[Byte]]("bin").toSeq === Seq[Byte](1, 2, 3))
      assert(a(1).toSeq.forall(_ == null))
    }
  }

  test("do_put creates, do_get round-trips, list_tables and metadata agree") {
    withService { (c, client, _) =>
      val df = SampleData.create(spark, 20, "default")
      val snap = client.doPut("t1", df)
      assert(snap === 1L)
      assert(client.listTables() === Seq("t1"))
      assert(client.doGet("t1").df.count() === 20)
      val info = client.getFlightInfo("t1")
      assert(info.schema.fieldNames.toSeq === Seq("id", "value", "timestamp", "is_active"))
      assert(info.snapshotId === 1L)
      val meta = client.getMetadata("t1")
      assert(meta.snapshotId === 1L)
      assert(client.getSchema("t1") === info.schema)
      assert(c.count("t1") === 20)
    }
  }

  test("do_upsert merges by key over the wire; missing keys is a typed error") {
    withService { (c, client, _) =>
      import spark.implicits._
      client.doPut("u1", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
      val snap = client.doUpsert("u1",
        Seq((2L, "B2"), (3L, "c")).toDF("id", "v"), Seq("id"))
      assert(snap === 2L)
      val got = client.doGet("u1").df.as[(Long, String)].collect().toMap
      assert(got === Map(1L -> "a", 2L -> "B2", 3L -> "c"))
      // creates when absent (same as do_put)
      client.doUpsert("u2", Seq((1L, "x")).toDF("id", "v"), Seq("id"))
      assert(client.doGet("u2").df.count() === 1)
      // a bad key column surfaces as a relayed service error, not a hang
      val err = intercept[RuntimeException] {
        client.doUpsert("u1", Seq((9L, "z")).toDF("id", "v"), Seq("nokey"))
      }
      assert(err.getMessage.nonEmpty)
      // ...and a bad key against an ABSENT table is rejected BEFORE the
      // create-on-demand: the failed request must not leave a
      // freshly-created empty table behind
      val err2 = intercept[RuntimeException] {
        client.doUpsert("u_nope", Seq((9L, "z")).toDF("id", "v"), Seq("nokey"))
      }
      assert(err2.getMessage.contains("nokey"))
      assert(!c.tableExists("u_nope"),
        "failed do_upsert left an empty table behind")
    }
  }

  test("chunked ingest bounds driver buffering and spills to staged parquet") {
    import org.apache.spark.sql.functions.col
    val df = spark.range(0, 10000, 1, 4)
      .select(col("id"), col("id").cast("string").as("v"))
    val bos = new java.io.ByteArrayOutputStream()
    ArrowCodec.write(df, bos, batchRows = 500) // 20 wire batches
    val body = ArrowCodec.read(spark,
      new java.io.ByteArrayInputStream(bos.toByteArray), chunkRows = 1000)
    try {
      assert(body.rows === 10000)
      // the bounded-memory guarantee: never buffered more than one chunk
      // (+ one wire batch of slack before the flush check fires)
      assert(body.maxBufferedRows <= 1500, s"buffered ${body.maxBufferedRows}")
      assert(body.spillDir.nonEmpty, "large body should spill")
      assert(body.df.count() === 10000)
      assert(body.df.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0)
        === (0L until 10000L).sum)
    } finally body.cleanup()
    assert(!java.nio.file.Files.exists(body.spillDir.get), "cleanup removes spill")
    // small body: stays a local relation, no spill
    val small = ArrowCodec.read(spark,
      new java.io.ByteArrayInputStream(bos.toByteArray))
    assert(small.spillDir.isEmpty && small.df.count() === 10000)
  }

  test("concurrent do_put to a new table: exactly one creates, no rows lost") {
    withService { (c, client, _) =>
      import org.apache.spark.sql.functions.col
      val writers = (0 until 4).map { w =>
        new Thread(() => {
          val df = spark.range(w * 100L, w * 100L + 100L, 1, 1)
            .select(col("id"), col("id").cast("string").as("v"))
          new FlightClient(spark, "localhost", client.port).doPut("raced", df)
        })
      }
      writers.foreach(_.start()); writers.foreach(_.join())
      // every writer's rows must land exactly once, whoever won create
      assert(c.count("raced") === 400)
      assert(c.query("raced").select("id").distinct().count() === 400)
      // each commit derives its operation from the head it lands on
      assert(c.loadTable("raced").log.snapshots.count(_.operation == "create") === 1)
    }
  }

  test("multi-chunk do_put round-trips through the service") {
    withService { (c, client, _) =>
      import org.apache.spark.sql.functions.col
      val df = spark.range(0, 3000, 1, 2)
        .select(col("id"), col("id").cast("string").as("v"))
      val bigClient = new FlightClient(spark, "localhost", client.port, batchRows = 100)
      bigClient.doPut("chunky", df)
      assert(c.count("chunky") === 3000)
      assert(client.doGet("chunky").df.agg(
        org.apache.spark.sql.functions.sum("id")).head.getLong(0)
        === (0L until 3000L).sum)
    }
  }

  test("get_changes returns only post-snapshot rows; error surfaces for missing table") {
    withService { (_, client, _) =>
      client.doPut("t2", SampleData.create(spark, 10, "default", seed = 1))
      val s1 = client.getMetadata("t2").snapshotId
      client.doPut("t2", SampleData.create(spark, 7, "default", seed = 2))
      assert(client.getChanges("t2", s1).df.count() === 7)
      assert(client.getChanges("t2", 0L).df.count() === 17)
      val e = intercept[RuntimeException](client.doGet("nope"))
      assert(e.getMessage.contains("nope"))
    }
  }

  test("mirror: full sync, then incremental delta only, then up_to_date") {
    withService { (_, client, _) =>
      client.doPut("src", SampleData.create(spark, 15, "analytics"))
      val targetWh = new Connector(spark, tmpDir("graft-mirror"))
      val state = SyncState(tmpDir("graft-state"))
      val url = "grpc://localhost:1/src"

      val r1 = Mirror.performSync(client, url, "src", targetWh, "dst", state)
      assert(r1.status === "full_sync" && r1.rowsSynced === 15)
      assert(targetWh.count("dst") === 15)

      client.doPut("src", SampleData.create(spark, 5, "analytics", seed = 9))
      val r2 = Mirror.performSync(client, url, "src", targetWh, "dst", state)
      assert(r2.status === "incremental" && r2.rowsSynced === 5)
      assert(targetWh.count("dst") === 20) // no duplicate full re-sync

      val r3 = Mirror.performSync(client, url, "src", targetWh, "dst", state)
      assert(r3.status === "up_to_date" && targetWh.count("dst") === 20)
    }
  }

  test("mirror re-declares the source's layout; replica deltas land prunable") {
    withService { (srcConn, client, _) =>
      client.doPut("lsrc", SampleData.create(spark, 20, "analytics"))
      val st = srcConn.loadTable("lsrc")
      st.setPartitionSpec(Seq(
        graft.warehouse.PartitionField("bucket", "visitor_id", 4)))
      st.setSortOrder(Seq("session_id"))
      st.addCheckConstraint("vid_sane", "visitor_id <> 'bogus'")
      val targetWh = new Connector(spark, tmpDir("graft-mirror-l"))
      val state = SyncState(tmpDir("graft-state-l"))
      val url = "grpc://localhost:1/lsrc"
      val r1 = Mirror.performSync(client, url, "lsrc", targetWh, "ldst", state)
      assert(r1.status === "full_sync")
      val rt = targetWh.loadTable("ldst")
      assert(rt.partitionSpec === st.partitionSpec)
      assert(rt.sortOrder === st.sortOrder)
      // CHECK constraints travel too: a promoted replica keeps enforcing
      assert(rt.checkConstraints === st.checkConstraints)
      // the incremental delta appends through the replica's own spec:
      // its files land one-bucket-value-each and point lookups prune
      client.doPut("lsrc", SampleData.create(spark, 40, "analytics", seed = 7))
      val r2 = Mirror.performSync(client, url, "lsrc", targetWh, "ldst", state)
      assert(r2.status === "incremental")
      val vid = rt.read().select("visitor_id").head().getString(0)
      val total = rt.read().inputFiles.length
      val kept = rt.readWhereIn("visitor_id", Seq(vid)).inputFiles.length
      assert(kept > 0 && kept < total,
        s"replica delta not partition-prunable: kept $kept of $total")
      assert(rt.readWhereIn("visitor_id", Seq(vid))
        .filter(org.apache.spark.sql.functions.col("visitor_id") === vid)
        .count() === rt.read()
        .filter(org.apache.spark.sql.functions.col("visitor_id") === vid)
        .count())
    }
  }

  test("mirror replays merge-on-read deletes from the op log: delta + keys only, era preserved") {
    withService { (src, client, svc) =>
      import spark.implicits._
      src.createTable("msrc", (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v"))
      val targetWh = new Connector(spark, tmpDir("graft-mormir"))
      val state = SyncState(tmpDir("graft-morstate"))
      val url = s"grpc://localhost:${svc.boundPort}/msrc"
      val r1 = Mirror.performSync(client, url, "msrc", targetWh, "mdst", state)
      assert(r1.status === "full_sync" && targetWh.count("mdst") === 20)
      // source: eqdelete → append (re-inserting a deleted key) → eqdelete
      val t = src.loadTable("msrc")
      t.deleteKeysMor(Seq(2L, 4L, 6L).toDF("id"))
      t.append(Seq((4L, "reborn"), (30L, "new")).toDF("id", "v"))
      t.deleteKeysMor(Seq(6L, 30L).toDF("id")) // 6 already gone; 30 just landed
      val r2 = Mirror.performSync(client, url, "msrc", targetWh, "mdst", state)
      // op-log path: 2 appended rows + 3 + 2 delete keys crossed the wire
      assert(r2.status === "incremental_oplog", s"got ${r2.status}")
      assert(r2.rowsSynced === 7)
      // replica equals the source, era semantics intact: 4 is reborn,
      // 2/6/30 are gone
      val want = t.read().select("id", "v").as[(Long, String)].collect().sorted.toSeq
      val got = targetWh.query("mdst").select("id", "v")
        .as[(Long, String)].collect().sorted.toSeq
      assert(got === want)
      assert(got.exists(_ == (4L, "reborn")) && !got.exists(_._1 == 2L) &&
        !got.exists(_._1 == 30L))
      // third tick: nothing new
      val r3 = Mirror.performSync(client, url, "msrc", targetWh, "mdst", state)
      assert(r3.status === "up_to_date")
      // a CoW rewrite in the next window is NOT replayable → the ladder
      // falls through to the changelog diff, not a full copy — but CoW
      // requires materialized tombstones, so compact first (source-side
      // maintenance), which routes this window to diff/rebuild paths
      t.compact(targetFiles = 2)
      t.upsert(Seq((1L, "upd")).toDF("id", "v"), Seq("id"))
      val r4 = Mirror.performSync(client, url, "msrc", targetWh, "mdst", state)
      assert(r4.status === "incremental_diff" || r4.status === "full_resync",
        s"got ${r4.status}")
      val got2 = targetWh.query("mdst").select("id", "v")
        .as[(Long, String)].collect().sorted.toSeq
      val want2 = t.read().select("id", "v").as[(Long, String)].collect().sorted.toSeq
      assert(got2 === want2)
    }
  }

  test("mirror replays PREDICATE deletes from the op log: SQL text only on the wire") {
    withService { (src, client, svc) =>
      import spark.implicits._
      src.createTable("psrc", (1L to 20L).map(i => (i, i * 10.0)).toDF("id", "x"))
      val targetWh = new Connector(spark, tmpDir("graft-predmir"))
      val state = SyncState(tmpDir("graft-predstate"))
      val url = s"grpc://localhost:${svc.boundPort}/psrc"
      val r1 = Mirror.performSync(client, url, "psrc", targetWh, "pdst", state)
      assert(r1.status === "full_sync")
      // source: predicate delete → append (era: re-landed rows survive
      // even where the predicate matches) → second predicate delete
      val t = src.loadTable("psrc")
      t.deleteWhereMor(org.apache.spark.sql.functions.col("x") <= 50.0)
      t.append(Seq((3L, 30.0), (21L, 210.0)).toDF("id", "x"))
      t.deleteWhereMor(org.apache.spark.sql.functions.col("id") % 7 === 0)
      val r2 = Mirror.performSync(client, url, "psrc", targetWh, "pdst", state)
      assert(r2.status === "incremental_oplog", s"got ${r2.status}")
      val want = t.read().select("id", "x").as[(Long, Double)].collect().sorted.toSeq
      val got = targetWh.query("pdst").select("id", "x")
        .as[(Long, Double)].collect().sorted.toSeq
      assert(got === want)
      // era semantics replicated: 3 survives (re-appended after the
      // price predicate), 7/14/21 are gone (second predicate)
      assert(got.exists(_ == (3L, 30.0)) && !got.exists(_._1 == 7L) &&
        !got.exists(_._1 == 21L))
      assert(Mirror.performSync(client, url, "psrc", targetWh, "pdst", state)
        .status === "up_to_date")
    }
  }

  test("mirror replays a source type widening and stays incremental") {
    withService { (src, client, svc) =>
      import spark.implicits._
      src.createTable("wsrc", Seq((1L, 10), (2L, 20)).toDF("id", "qty"))
      val targetWh = new Connector(spark, tmpDir("graft-widemir"))
      val state = SyncState(tmpDir("graft-widestate"))
      val url = s"grpc://localhost:${svc.boundPort}/wsrc"
      assert(Mirror.performSync(client, url, "wsrc", targetWh, "wdst", state)
        .status === "full_sync")
      val t = src.loadTable("wsrc")
      t.widenColumn("qty", org.apache.spark.sql.types.LongType)
      src.insert("wsrc", Seq((3L, 5000000000L)).toDF("id", "qty"))
      val r2 = Mirror.performSync(client, url, "wsrc", targetWh, "wdst", state)
      assert(r2.status === "incremental", s"got ${r2.status}")
      assert(targetWh.loadTable("wdst").schema("qty").dataType ===
        org.apache.spark.sql.types.LongType)
      assert(targetWh.query("wdst").select("qty").as[Long]
        .collect().sorted.toSeq === Seq(10L, 20L, 5000000000L))
    }
  }

  test("mirror loop discovers the source table and converges in bounded iterations") {
    withService { (_, client, svc) =>
      client.doPut("only_table", SampleData.create(spark, 12, "default"))
      val targetWh = new Connector(spark, tmpDir("graft-mloop"))
      val state = SyncState(tmpDir("graft-mstate"))
      // sourceTableOpt = None → resolved via list_tables (reference
      // discovery path, icerunner.py:874-888)
      Mirror.run(client, s"grpc://localhost:${svc.boundPort}", None,
        targetWh, "mirrored", state, intervalMs = 1, iterations = Some(3))
      assert(targetWh.count("mirrored") === 12)
      val st = state.load(s"grpc://localhost:${svc.boundPort}", "mirrored")
      assert(st.lastSyncStatus === "up_to_date") // 2nd/3rd ticks no-op
    }
  }

  test("client follows the advertised data-plane endpoint (reference: FlightEndpoint locations)") {
    val c = new Connector(spark, tmpDir("graft-ep"))
    val dataSvc = new FlightService(c, 0)
    // relay: serves control-plane metadata but advertises the data
    // service's port as the table's endpoint location
    val relay = new FlightService(c, 0, advertisePort = Some(dataSvc.boundPort))
    try {
      val ctl = new FlightClient(spark, "localhost", relay.boundPort)
      ctl.doPut("t", SampleData.create(spark, 8, "default"))
      val data = ctl.forEndpoint("t")
      assert(data.port === dataSvc.boundPort, "endpoint location followed")
      relay.close() // control plane gone; data plane must still serve
      assert(data.doGet("t").df.count() === 8)
    } finally { relay.close(); dataSvc.close() }
  }

  test("mirror self-heals with a full re-sync after source history expiry") {
    withService { (c, client, svc) =>
      client.doPut("src2", SampleData.create(spark, 10, "default", seed = 1))
      val targetWh = new Connector(spark, tmpDir("graft-heal"))
      val state = SyncState(tmpDir("graft-healstate"))
      val url = s"grpc://localhost:${svc.boundPort}/src2"
      val r1 = Mirror.performSync(client, url, "src2", targetWh, "dst2", state)
      assert(r1.status === "full_sync" && r1.rowsSynced === 10)

      // source history expires past the replica's recorded snapshot (1):
      client.doPut("src2", SampleData.create(spark, 6, "default", seed = 2))
      c.compact("src2") // snapshot 3
      c.expireSnapshots("src2", keepFromId = 3L)

      val r2 = Mirror.performSync(client, url, "src2", targetWh, "dst2", state)
      assert(r2.status === "full_resync", s"got ${r2.status}")
      assert(targetWh.count("dst2") === 16) // rebuilt, not duplicated

      // and the next tick is healthy incremental/up_to_date again
      val r3 = Mirror.performSync(client, url, "src2", targetWh, "dst2", state)
      assert(r3.status === "up_to_date" && targetWh.count("dst2") === 16)
    }
  }

  test("mirror applies a changelog across a source upsert (delta on the wire, no full copy)") {
    withService { (c, client, svc) =>
      import spark.implicits._
      client.doPut("src3", (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"))
      val targetWh = new Connector(spark, tmpDir("graft-ups"))
      val state = SyncState(tmpDir("graft-upsstate"))
      val url = s"grpc://localhost:${svc.boundPort}/src3"
      val r1 = Mirror.performSync(client, url, "src3", targetWh, "dst3", state)
      assert(r1.status === "full_sync" && targetWh.count("dst3") === 10)

      // a rewrite lands on the source: the replica must NOT consume it
      // as appended rows (that would duplicate survivors). Since r10 it
      // also must not re-copy the table: the get_diff changelog carries
      // exactly delete-of-old + insert-of-new.
      client.doUpsert("src3", Seq((1L, "NEW"), (11L, "ins")).toDF("id", "v"), Seq("id"))
      val r2 = Mirror.performSync(client, url, "src3", targetWh, "dst3", state)
      assert(r2.status === "incremental_diff", s"got ${r2.status}")
      assert(r2.rowsSynced === 3, // delete (1,v1) + insert (1,NEW) + insert (11,ins)
        s"wire delta should be 3 change rows, got ${r2.rowsSynced}")
      assert(targetWh.count("dst3") === 11)
      val replica = targetWh.query("dst3").as[(Long, String)].collect().toMap
      assert(replica(1L) === "NEW" && replica(11L) === "ins" && replica(2L) === "v2")

      val r3 = Mirror.performSync(client, url, "src3", targetWh, "dst3", state)
      assert(r3.status === "up_to_date")

      // replica equals source exactly after the changelog apply
      val src = c.query("src3").as[(Long, String)].collect().toMap
      assert(replica === src)

      // r14: a window mixing a REWRITE and a MERGE-ON-READ delete used
      // to defeat both incremental rungs (the oplog refuses the
      // rewrite, the file-set diff refuses the tombstone) → full
      // re-copy. The change-feed-backed get_diff nets the window into
      // exactly the delta rows.
      client.doUpsert("src3", Seq((2L, "NEW2")).toDF("id", "v"), Seq("id"))
      c.loadTable("src3").deleteKeysMor(Seq(3L).toDF("id"))
      val r4 = Mirror.performSync(client, url, "src3", targetWh, "dst3", state)
      assert(r4.status === "incremental_diff", s"got ${r4.status}")
      assert(r4.rowsSynced === 3, // del (2,v2) + ins (2,NEW2) + del (3,v3)
        s"wire delta should be 3 change rows, got ${r4.rowsSynced}")
      val replica2 = targetWh.query("dst3").as[(Long, String)].collect().toMap
      assert(replica2 === c.query("src3").as[(Long, String)].collect().toMap)
      assert(!replica2.contains(3L) && replica2(2L) === "NEW2")
    }
  }

  test("mirror continues incrementally across additive evolution; rebuilds only on divergence") {
    withService { (c, client, svc) =>
      import spark.implicits._
      client.doPut("src4", (1L to 8L).map(i => (i, s"v$i")).toDF("id", "v"))
      val targetWh = new Connector(spark, tmpDir("graft-evo"))
      val state = SyncState(tmpDir("graft-evostate"))
      val url = s"grpc://localhost:${svc.boundPort}/src4"
      val r1 = Mirror.performSync(client, url, "src4", targetWh, "dst4", state)
      assert(r1.status === "full_sync")

      // widen the source schema, then rewrite: since r11 the WIDER
      // get_diff changelog evolves the replica in place and the tick
      // stays on the changelog path (previously this fell back to a
      // full rebuild)
      c.loadTable("src4").addColumns(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("extra",
          org.apache.spark.sql.types.LongType, nullable = true))))
      c.upsert("src4", Seq((1L, "NEW", 7L)).toDF("id", "v", "extra"), Seq("id"))
      val r2 = Mirror.performSync(client, url, "src4", targetWh, "dst4", state)
      assert(r2.status === "incremental_diff", s"got ${r2.status}")
      assert(targetWh.count("dst4") === 8)
      assert(targetWh.query("dst4").columns.contains("extra"),
        "evolved replica must carry the new column")
      assert(targetWh.query("dst4").filter($"id" === 1L)
        .select("v", "extra").as[(String, Option[Long])].head() === (("NEW", Some(7L))))
      assert(targetWh.query("dst4").filter($"id" === 2L)
        .select("v", "extra").as[(String, Option[Long])].head() === (("v2", None)))

      // a replica that diverged WIDER than the source (non-additive
      // from the delta's perspective) still self-heals via the atomic
      // rebuild, converging to the source schema
      targetWh.loadTable("dst4").addColumns(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("local_only",
          org.apache.spark.sql.types.StringType, nullable = true))))
      c.upsert("src4", Seq((2L, "NEW2", 9L)).toDF("id", "v", "extra"), Seq("id"))
      val r3 = Mirror.performSync(client, url, "src4", targetWh, "dst4", state)
      assert(r3.status === "full_resync", s"got ${r3.status}")
      assert(!targetWh.query("dst4").columns.contains("local_only"),
        "rebuild must converge the replica to the source schema")
      assert(targetWh.query("dst4").filter($"id" === 2L)
        .select("v").as[String].head() === "NEW2")
      val r4 = Mirror.performSync(client, url, "src4", targetWh, "dst4", state)
      assert(r4.status === "up_to_date")
    }
  }

  test("flag parser accepts -b and --batch-size (reference CLI surface)") {
    assert(Main.flags(List("-b", "512", "-n", "t")) ===
      Map("b" -> "512", "n" -> "t"))
    assert(Main.flags(List("--batch-size", "1024")) === Map("b" -> "1024"))
    assert(Main.flags(List("--one-time", "-s", "grpc://h:1/t")) ===
      Map("one-time" -> "true", "s" -> "grpc://h:1/t"))
  }

  test("reader and writer loops run bounded iterations through the wire") {
    withService { (c, _, svc) =>
      val port = svc.boundPort
      val lastSnap = Clients.runWriter(spark, "localhost", port, "wlog",
        intervalMs = 1, iterations = Some(3))
      assert(lastSnap === 3L) // one commit per tick
      assert(c.count("wlog") === 3)
      val rows = Clients.runReader(spark, "localhost", port, "wlog",
        intervalMs = 1, iterations = Some(2))
      assert(rows === 3L)
    }
  }

  test("sync state round-trips and uses the reference's file naming") {
    val state = SyncState(tmpDir("graft-ss"))
    val s = SyncState.State(123L, Some(7L), Some(3L), 42L, "success")
    state.save("grpc://h:1/t", "tgt", s)
    assert(state.load("grpc://h:1/t", "tgt").norm === s)
    val p = state.statePath("grpc://h:1/t", "tgt").getFileName.toString
    assert(p.matches("[0-9a-f]{8}_tgt\\.json"))
    assert(state.load("grpc://other:1/t", "tgt").lastSyncStatus === "never")
  }

  test("flight url parsing matches the reference defaults") {
    assert(FlightClient.parseUrl("grpc://h:9/t") === ("h", 9, Some("t")))
    assert(FlightClient.parseUrl("grpc://h/t") === ("h", 8815, Some("t")))
    assert(FlightClient.parseUrl("grpc://h:9") === ("h", 9, None))
  }

  test("sample data profiles are deterministic and correctly typed") {
    for (p <- SampleData.profiles) {
      val a = SampleData.create(spark, 30, p)
      val b = SampleData.create(spark, 30, p)
      assert(a.count() === 30)
      assert(a.exceptAll(b).isEmpty, s"profile $p not deterministic")
    }
    val iot = SampleData.create(spark, 10, "iot")
    assert(iot.schema("signal_strength").dataType === ByteType)
    assert(iot.schema("battery_level").dataType === FloatType)
    val an = SampleData.create(spark, 10, "analytics")
    assert(an.schema("page_views").dataType === ShortType)
    assert(an.schema("duration_seconds").dataType === IntegerType)
  }
}
