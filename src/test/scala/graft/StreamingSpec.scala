package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams
import graft.warehouse.Connector

/** Streaming specs verify stream results against their batch
  * equivalents on the same files — the differential oracle streaming
  * can't get from DuckDB. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** Copy the sf0.001 events into a stream dir as two file chunks. */
  private def stageEvents(): (String, DataFrame) = {
    val dir = Files.createTempDirectory("graft-stream").toString
    val events = T.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    events.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(dir)
    events.filter(col("event_id") % 2 =!= 0).coalesce(1)
      .write.mode("append").parquet(dir)
    (dir, spark.read.schema(EventStreams.eventSchema).parquet(dir))
  }

  private def runToTable(df: DataFrame, name: String): Unit = {
    val q = df.writeStream
      .format("memory").queryName(name)
      .outputMode("complete")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
  }

  test("tumbling-window counts match the batch equivalent") {
    val (dir, batchDf) = stageEvents()
    runToTable(EventStreams.tumblingCounts(
      EventStreams.readEvents(spark, dir)), "tumbling")
    val streamed = spark.table("tumbling")
    val batch = batchDf
      .groupBy(window(col("ts"), "1 day").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("win.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("tumbling windows merge state across MULTIPLE micro-batches (q94 coverage witness)") {
    // The q94 rig's whole point is cross-batch partial-state merging
    // (4 unordered files × maxFilesPerTrigger=1). A trigger/staging
    // change could silently collapse that to one batch-in-disguise and
    // the oracle would still pass — so pin the merge coverage here.
    // Pigeonhole witness: each batch updates a state row at most once,
    // so Σ(per-batch numRowsUpdated) > |final windows| forces at least
    // one window updated by ≥2 batches.
    val dir = Files.createTempDirectory("graft-stream-mb").toString
    T.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(4).write.mode("overwrite").parquet(dir)
    val agg = EventStreams.tumblingCounts(
      EventStreams.readEvents(spark, dir, maxFilesPerTrigger = 1))
    val q = agg.writeStream
      .format("memory").queryName("tumbling_mb")
      .outputMode("complete")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val progresses = q.recentProgress.toSeq
    val dataBatches = progresses.count(_.numInputRows > 0)
    assert(dataBatches >= 2,
      s"only $dataBatches micro-batch(es) carried data — staging no " +
        "longer exercises cross-batch merging")
    val totalUpdates = progresses
      .flatMap(_.stateOperators.toSeq).map(_.numRowsUpdated).sum
    val finalRows = spark.table("tumbling_mb").count()
    assert(finalRows > 0)
    assert(totalUpdates > finalRows,
      s"state updates ($totalUpdates) ≤ final windows ($finalRows): no " +
        "window was touched by more than one batch — merge coverage lost")
    spark.catalog.dropTempView("tumbling_mb")
  }

  test("session windows produce per-user sessions covering all events") {
    val (dir, batchDf) = stageEvents()
    runToTable(EventStreams.userSessions(
      EventStreams.readEvents(spark, dir)), "sessions")
    val s = spark.table("sessions")
    assert(s.count() > 0)
    // every event is inside exactly one of its user's sessions
    assert(s.agg(sum("n_events")).head().getLong(0) === batchDf.count())
    assert(s.filter(col("sess_end") < col("sess_start")).isEmpty)
  }

  test("stateful running totals converge to the batch per-user totals") {
    import spark.implicits._
    val (dir, batchDf) = stageEvents()
    val stream = EventStreams.readEvents(spark, dir, maxFilesPerTrigger = 1)
      .as[EventStreams.Event]
    val q = EventStreams.runningUserTotals(stream).toDF()
      .writeStream.format("memory").queryName("running")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // last emitted row per user == batch aggregate
    val finals = spark.table("running")
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("total_value"))).as("s"))
      .select(col("user_id"), col("s.n_events"),
        round(col("s.total_value"), 4).as("total_value"))
    val batch = batchDf.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 4).as("total_value"))
    assert(finals.exceptAll(batch).isEmpty && batch.exceptAll(finals).isEmpty)
  }

  test("streaming dedup drops replayed events within the watermark") {
    val (dir, batchDf) = stageEvents()
    // replay the first chunk: a third file duplicating even event_ids
    batchDf.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(dir)
    val q = graft.streaming.EventStreams.dedupEvents(
        graft.streaming.EventStreams.readEvents(spark, dir))
      .writeStream.format("memory").queryName("deduped")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(spark.table("deduped").count() === batchDf.count())
  }

  test("stream-static enrichment and stream-stream follow-join match batch equivalents") {
    val (dir, batchDf) = stageEvents()
    val stream = graft.streaming.EventStreams.readEvents(spark, dir)

    // stream-static: enrich with a per-user dimension
    val dim = batchDf.groupBy("user_id").agg(count(lit(1)).as("user_total"))
    val q1 = graft.streaming.EventStreams.enrich(stream, dim, "user_id")
      .select("event_id", "user_total")
      .writeStream.format("memory").queryName("enriched").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination(120000)
    val enrichedBatch = batchDf.join(dim, Seq("user_id"), "left")
      .select("event_id", "user_total")
    val enriched = spark.table("enriched")
    assert(enriched.exceptAll(enrichedBatch).isEmpty &&
      enrichedBatch.exceptAll(enriched).isEmpty)

    // stream-stream: click followed by purchase within 30 min, same user
    val types = batchDf.select("event_type").distinct().collect().map(_.getString(0))
    val (tA, tB) = (types.sorted.head, types.sorted.last)
    val q2 = graft.streaming.EventStreams.followedBy(stream, tA, tB)
      .select("user_id", "a_event", "b_event")
      .writeStream.format("memory").queryName("funnel").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(120000)
    val aSide = batchDf.filter(col("event_type") === tA)
      .select(col("user_id").as("a_user"), col("ts").as("a_ts"), col("event_id").as("a_event"))
    val bSide = batchDf.filter(col("event_type") === tB)
      .select(col("user_id").as("b_user"), col("ts").as("b_ts"), col("event_id").as("b_event"))
    val funnelBatch = aSide.join(bSide,
        col("a_user") === col("b_user") && col("b_ts") >= col("a_ts") &&
          col("b_ts") <= col("a_ts") + expr("INTERVAL 30 minutes"))
      .select(col("a_user").as("user_id"), col("a_event"), col("b_event"))
    val funnel = spark.table("funnel")
    assert(funnel.count() > 0)
    assert(funnel.exceptAll(funnelBatch).isEmpty &&
      funnelBatch.exceptAll(funnel).isEmpty)
  }

  test("streaming CDC apply converges the warehouse to the latest row per key") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft-cdc").toString
    // micro-batch 1: initial versions; micro-batch 2: updates + an
    // insert; micro-batch 3: an OUT-OF-ORDER stale version for id=2
    // (batch boundaries are arbitrary in a real feed — the cross-batch
    // version guard must not regress ver=20 to ver=5)
    Seq((1L, "a", 10L), (2L, "b", 10L), (3L, "c", 10L))
      .toDF("id", "v", "ver").coalesce(1).write.mode("append").parquet(dir)
    Seq((2L, "B2", 20L), (2L, "B2-stale", 15L), (4L, "d", 20L))
      .toDF("id", "v", "ver").coalesce(1).write.mode("append").parquet(dir)
    Seq((2L, "B2-ancient", 5L))
      .toDF("id", "v", "ver").coalesce(1).write.mode("append").parquet(dir)
    val sch = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType), StructField("ver", LongType)))
    val stream = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val wh = new Connector(spark, Files.createTempDirectory("graft-cdcwh").toString)
    val q = EventStreams.cdcApply(stream, wh, "state", Seq("id"), "ver", "v",
      Files.createTempDirectory("graft-cdcckpt").toString)
    q.awaitTermination(120000)
    val got = wh.query("state").select("id", "v")
      .as[(Long, String)].collect().toMap
    // current state, not an event log: within-batch keep-latest dropped
    // the stale intermediate, cross-batch upsert replaced v1 of id=2
    assert(got === Map(1L -> "a", 2L -> "B2", 3L -> "c", 4L -> "d"))
  }

  test("CDC apply breaks orderCol ties across batches with the tiebreak column") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft-cdc-tb").toString
    // Both batches carry ver=10 rows. Within a batch keep-latest is
    // (ver desc, tiebreak desc); the CROSS-batch guard must apply the
    // same lexicographic rule: a later-arriving row with an equal ver
    // and a LOWER tiebreak must not overwrite the stored winner, while
    // an equal-ver HIGHER tiebreak must.
    Seq((1L, "z", 10L), (2L, "a", 10L))
      .toDF("id", "v", "ver").coalesce(1).write.mode("append").parquet(dir)
    Seq((1L, "a", 10L), (2L, "z", 10L))
      .toDF("id", "v", "ver").coalesce(1).write.mode("append").parquet(dir)
    val sch = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType), StructField("ver", LongType)))
    val stream = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val wh = new Connector(spark, Files.createTempDirectory("graft-cdc-tbwh").toString)
    val q = EventStreams.cdcApply(stream, wh, "state", Seq("id"), "ver", "v",
      Files.createTempDirectory("graft-cdc-tbckpt").toString)
    q.awaitTermination(120000)
    val got = wh.query("state").select("id", "v")
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "z", 2L -> "z"))
  }

  test("CDC apply does not conflate a stored NULL orderCol with key absence") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft-cdc-no").toString
    // id=1: stored (NULL ver, tiebreak "z"); a later (NULL ver, "a")
    // must NOT overwrite (NULL ties resolve by tiebreak, and "no stored
    // row" must be its own signal, not __cur_ord's nullness).
    // id=2: stored NULL ver, later NON-NULL ver must win (non-null
    // beats null). id=3 arrives only in batch 2 (the true-absence path).
    Seq((1L, "z", Option.empty[Long]), (2L, "b", Option.empty[Long]))
      .toDF("id", "v", "ver").coalesce(1).write.mode("append").parquet(dir)
    Seq((1L, "a", Option.empty[Long]), (2L, "B2", Option(5L)),
        (3L, "c", Option.empty[Long]))
      .toDF("id", "v", "ver").coalesce(1).write.mode("append").parquet(dir)
    val sch = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType), StructField("ver", LongType)))
    val stream = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val wh = new Connector(spark, Files.createTempDirectory("graft-cdc-nowh").toString)
    val q = EventStreams.cdcApply(stream, wh, "state", Seq("id"), "ver", "v",
      Files.createTempDirectory("graft-cdc-nockpt").toString)
    q.awaitTermination(120000)
    val got = wh.query("state").select("id", "v")
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "z", 2L -> "B2", 3L -> "c"))
  }

  test("CDC apply with a delete arm drops tombstoned keys, guard-orders deletes too") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft-cdc-del").toString
    // batch 1 creates 1..3 (plus a tombstone for absent id=9: no-op;
    // first-batch tombstones must also not CREATE rows); batch 2
    // deletes id=2 and updates id=3; batch 3 carries a STALE delete for
    // id=3 (ver=5 < stored 20) — the reorder guard must discard it.
    Seq((1L, "a", 10L, "U"), (2L, "b", 10L, "U"), (3L, "c", 10L, "U"),
        (9L, "x", 10L, "D"))
      .toDF("id", "v", "ver", "op").coalesce(1).write.mode("append").parquet(dir)
    Seq((2L, "x", 20L, "D"), (3L, "C2", 20L, "U"))
      .toDF("id", "v", "ver", "op").coalesce(1).write.mode("append").parquet(dir)
    Seq((3L, "x", 5L, "D"))
      .toDF("id", "v", "ver", "op").coalesce(1).write.mode("append").parquet(dir)
    val sch = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType), StructField("ver", LongType),
      StructField("op", StringType)))
    val stream = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val wh = new Connector(spark, Files.createTempDirectory("graft-cdc-delwh").toString)
    val q = EventStreams.cdcApply(stream, wh, "state", Seq("id"), "ver", "v",
      Files.createTempDirectory("graft-cdc-delckpt").toString,
      deleteWhen = Some($"op" === "D"))
    q.awaitTermination(120000)
    val got = wh.query("state").select("id", "v")
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "a", 3L -> "C2"))
  }

  test("streaming ingestion commits snapshots the warehouse can read incrementally") {
    val (dir, batchDf) = stageEvents()
    val wh = new Connector(spark, Files.createTempDirectory("graft-swh").toString)
    val q = EventStreams.ingestToWarehouse(
      EventStreams.readEvents(spark, dir, maxFilesPerTrigger = 1),
      wh, "events_live", Files.createTempDirectory("graft-ckpt").toString)
    q.awaitTermination(120000)
    assert(wh.count("events_live") === batchDf.count())
    // one snapshot per non-empty micro-batch; incremental read sees only
    // the delta after the first commit
    val snaps = wh.loadTable("events_live").log.snapshots
    assert(snaps.length >= 2)
    val afterFirst = wh.getChangesSinceSnapshot("events_live", snaps.head.snapshotId).get
    assert(afterFirst.count() === batchDf.count() - snaps.head.addedFiles.length * 0 -
      wh.loadTable("events_live").read(Some(snaps.head.snapshotId)).count())
  }

  test("key-only watermark dedup collapses restamped retries; (id,ts) dedup cannot") {
    // at-least-once redelivery with a drifted event time: the retry of
    // every third event arrives restamped 1 s later
    val dir = Files.createTempDirectory("graft-stream-dd").toString
    val events = T.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val retries = events.filter(col("event_id") % 3 === 0)
      .withColumn("ts", col("ts") + expr("INTERVAL 1 SECOND"))
    events.coalesce(1).write.mode("append").parquet(dir)
    retries.coalesce(1).write.mode("append").parquet(dir)
    val n = events.count()
    val nRetries = retries.count()

    def runAppend(df: DataFrame, name: String): Unit = {
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation",
          Files.createTempDirectory("graft-ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    // composite (id, ts) dedup: the restamped retry is a DIFFERENT key —
    // every duplicate survives (the premise that motivates the operator)
    runAppend(EventStreams.dedupEvents(
      EventStreams.readEvents(spark, dir), watermark = "1 hour"), "dd_idts")
    assert(spark.table("dd_idts").count() === n + nRetries)
    // key-only watermark dedup: exactly the distinct events remain, and
    // the payload matches the batch-distinct set
    runAppend(EventStreams.dedupWithinWatermark(
      EventStreams.readEvents(spark, dir), Seq("event_id"),
      watermark = "1 hour"), "dd_key")
    val got = spark.table("dd_key").select("event_id", "user_id", "event_type")
    val want = events.select("event_id", "user_id", "event_type")
    assert(got.count() === n)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    spark.catalog.dropTempView("dd_idts")
    spark.catalog.dropTempView("dd_key")
  }

  test("crash-replayed ingest batches are no-ops (txn markers make the sink exactly-once)") {
    val (dir, batchDf) = stageEvents()
    val wh = new Connector(spark, Files.createTempDirectory("graft-swh").toString)
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val q = EventStreams.ingestToWarehouse(
      EventStreams.readEvents(spark, dir, maxFilesPerTrigger = 1),
      wh, "ev", ckpt)
    q.awaitTermination(120000)
    val n = batchDf.count()
    assert(wh.count("ev") === n)
    val t = wh.loadTable("ev")
    val appId = EventStreams.txnAppId(ckpt)
    val last = t.lastTxnBatch(appId).get
    val head = t.currentSnapshotId.get
    // replay the last batch (crash between append and checkpoint):
    // must not commit, must not change row count
    EventStreams.ingestBatchExactlyOnce(wh, "ev", ckpt,
      spark.read.parquet(dir), last)
    assert(wh.count("ev") === n, "replayed batch re-appended rows")
    assert(wh.loadTable("ev").currentSnapshotId.get === head,
      "replayed batch committed a snapshot")
    // an older batch id equally no-ops
    EventStreams.ingestBatchExactlyOnce(wh, "ev", ckpt,
      spark.read.parquet(dir), 0L)
    assert(wh.count("ev") === n)
    // a genuinely NEW batch id still appends (the marker gate is not a
    // write lock)
    val extra = batchDf.limit(5)
    EventStreams.ingestBatchExactlyOnce(wh, "ev", ckpt, extra, last + 1)
    assert(wh.count("ev") === n + 5)
    assert(wh.loadTable("ev").lastTxnBatch(appId).contains(last + 1))
    // a DIFFERENT sink identity (other checkpoint) is unaffected by
    // this app's markers
    val otherCkpt = Files.createTempDirectory("graft-ckpt2").toString
    EventStreams.ingestBatchExactlyOnce(wh, "ev", otherCkpt, extra, 0L)
    assert(wh.count("ev") === n + 10)
  }

  test("txn markers survive compact + expiry (carried forward on the horizon snapshot)") {
    val (dir, batchDf) = stageEvents()
    val wh = new Connector(spark, Files.createTempDirectory("graft-swh").toString)
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    EventStreams.ingestToWarehouse(
      EventStreams.readEvents(spark, dir, maxFilesPerTrigger = 1),
      wh, "ev", ckpt).awaitTermination(120000)
    val n = batchDf.count()
    val t = wh.loadTable("ev")
    val appId = EventStreams.txnAppId(ckpt)
    val last = t.lastTxnBatch(appId).get
    // compact then EXPIRE the marker-carrying manifests
    val comp = t.compact(targetFiles = 2)
    t.expireSnapshots(comp.snapshotId)
    assert(t.log.snapshots.size == 1)
    // the horizon snapshot carried the marker — a crash-replay after
    // maintenance must STILL no-op
    assert(t.lastTxnBatch(appId).contains(last),
      "expiry forgot the sink's txn marker — replay window reopened")
    EventStreams.ingestBatchExactlyOnce(wh, "ev", ckpt,
      spark.read.parquet(dir), last)
    assert(wh.count("ev") === n, "replayed batch re-appended after expiry")
    // metadata checkpoint carries markers the same way
    EventStreams.ingestBatchExactlyOnce(wh, "ev", ckpt,
      batchDf.limit(3), last + 1)
    val ck = t.checkpoint()
    t.expireSnapshots(ck.snapshotId)
    assert(t.lastTxnBatch(appId).contains(last + 1))
    EventStreams.ingestBatchExactlyOnce(wh, "ev", ckpt,
      spark.read.parquet(dir), last + 1)
    assert(wh.count("ev") === n + 3)
  }

  test("crash-replayed CDC batches are no-ops (delete arm replay cannot re-delete)") {
    import spark.implicits._
    val wh = new Connector(spark, Files.createTempDirectory("graft-swh").toString)
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    def batch(rows: Seq[(Long, Long, Long, String)]): DataFrame =
      rows.toDF("k", "ord", "tb", "op")
    val delArm = Some(col("op") === "D")
    def apply(b: DataFrame, id: Long): Unit =
      EventStreams.cdcBatchExactlyOnce(wh, "state", Seq("k"),
        "ord", "tb", ckpt, delArm, b, id)
    apply(batch(Seq((1L, 1L, 0L, "U"), (2L, 1L, 0L, "U"))), 0L)
    apply(batch(Seq((1L, 2L, 0L, "D"))), 1L) // delete k=1
    apply(batch(Seq((1L, 3L, 0L, "U"))), 2L) // re-insert k=1
    assert(wh.query("state").select("k").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L))
    val head = wh.loadTable("state").currentSnapshotId.get
    // crash-replay of the DELETE batch: without the marker skip this
    // could tombstone the re-inserted key again (and at minimum costs
    // a commit); with it the apply is a no-op
    apply(batch(Seq((1L, 2L, 0L, "D"))), 1L)
    assert(wh.query("state").select("k").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L), "replayed delete batch re-deleted a key")
    assert(wh.loadTable("state").currentSnapshotId.get === head)
  }

  test("table streaming source: incremental offsets, additive evolution, rewrite-row refusal") {
    import spark.implicits._
    val whDir = Files.createTempDirectory("graft-src")
    val t = graft.warehouse.GraftTable.create(spark,
      whDir.resolve("t"), "t", (1L to 5L).map(i => (i, s"v$i")).toDF("id", "v")).get
    val ckpt = Files.createTempDirectory("graft-srcckpt").toString
    val seen = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    def run(): Unit = {
      val sq = spark.readStream
        .format(classOf[graft.streaming.GraftTableSourceProvider].getName)
        .option("path", whDir.resolve("t").toString)
        .option("maxSnapshotsPerBatch", "1")
        .load()
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          val ids = b.select("id").as[Long].collect().sorted.toSeq
          seen.synchronized { seen += ids }: Unit
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      sq.awaitTermination()
    }
    run() // initial snapshot
    assert(seen.flatten.sorted == (1L to 5L), s"initial snapshot: $seen")
    // two appends + an additive evolution: the restarted run must
    // deliver ONLY the deltas, null-binding the column added after the
    // stream's schema was captured
    t.append(Seq((6L, "v6")).toDF("id", "v"))
    t.addColumns(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("extra",
        org.apache.spark.sql.types.LongType))))
    t.append(Seq((7L, "v7", 70L)).toDF("id", "v", "extra"))
    seen.clear()
    run()
    // maxSnapshotsPerBatch=1 ⇒ one source commit per micro-batch:
    // append(6) / evolve(empty) / append(7), never one merged batch
    assert(seen.flatten.sorted == Seq(6L, 7L), s"delta run: $seen")
    assert(seen.count(_.nonEmpty) == 2, s"expected 2 non-empty batches: $seen")
    // nothing new: restart re-reads NOTHING
    seen.clear()
    run()
    assert(seen.flatten.isEmpty, s"replay leaked rows: $seen")
    // a snapshot that REWRITES rows makes the delta inexpressible —
    // the stream must fail loudly, not silently skip or duplicate
    t.upsert(Seq((1L, "x", 0L)).toDF("id", "v", "extra"), Seq("id"))
    seen.clear()
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run()
    }
    def causes(e: Throwable): Seq[Throwable] =
      Option(e).toSeq.flatMap(t => t +: causes(t.getCause))
    assert(causes(failed).exists(
      _.isInstanceOf[graft.warehouse.HistoryExpiredException]),
      s"expected HistoryExpiredException, got $failed")
  }

  test("table streaming source: readChangeFeed flows through DML as tagged change rows") {
    import spark.implicits._
    val whDir = Files.createTempDirectory("graft-cdfsrc")
    val t = graft.warehouse.GraftTable.create(spark,
      whDir.resolve("t"), "t",
      (1L to 4L).map(i => (i, i * 10)).toDF("id", "price")).get // s1
    val ckpt = Files.createTempDirectory("graft-cdfckpt").toString
    val seen = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, String, Long)]]
    def run(): Unit = {
      val sq = spark.readStream
        .format(classOf[graft.streaming.GraftTableSourceProvider].getName)
        .option("path", whDir.resolve("t").toString)
        .option("maxSnapshotsPerBatch", "1")
        .option("readChangeFeed", "true")
        .load()
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          val rows = b.select("_commit_snapshot_id", "_change_type", "id")
            .as[(Long, String, Long)].collect().sortBy(r => (r._1, r._2, r._3)).toSeq
          seen.synchronized { seen += rows }: Unit
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      sq.awaitTermination()
    }
    run() // initial snapshot: all rows as inserts attributed to s1
    assert(seen.flatten.toSet ==
      (1L to 4L).map(i => (1L, "insert", i)).toSet, s"initial: $seen")
    // DML storm the append-only source would refuse: the CDF stream
    // must deliver each commit as its tagged change rows
    t.append(Seq((5L, 50L)).toDF("id", "price"))                    // s2
    t.upsert(Seq((1L, 11L)).toDF("id", "price"), Seq("id"))         // s3
    t.deleteKeysMor(Seq(2L).toDF("id"))                             // s4
    t.compact()                                                     // s5
    seen.clear()
    run()
    assert(seen.flatten.toSet == Set(
      (2L, "insert", 5L),
      (3L, "update_preimage", 1L), (3L, "update_postimage", 1L),
      (4L, "delete", 2L)), s"delta run: $seen")
    // one commit per micro-batch; the compact batch is silent
    assert(seen.count(_.nonEmpty) == 3, s"expected 3 non-empty batches: $seen")
    // restart: offsets hold, nothing re-delivered
    seen.clear()
    run()
    assert(seen.flatten.isEmpty, s"replay leaked rows: $seen")
  }

  test("table streaming sink: exactly-once appends, replay no-op, Complete replaces") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("graft-sinkin").toString
    (1L to 3L).toDF("id").coalesce(1).write.mode("append").parquet(inDir)
    (4L to 6L).toDF("id").coalesce(1).write.mode("append").parquet(inDir)
    val outDir = Files.createTempDirectory("graft-sinkout").resolve("t")
    val ckpt = Files.createTempDirectory("graft-sinkckpt").toString
    def run(): Unit = {
      val sq = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType))))
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir)
        .writeStream
        .format(classOf[graft.streaming.GraftTableSinkProvider].getName)
        .option("path", outDir.toString)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      sq.awaitTermination()
    }
    run()
    val t = graft.warehouse.GraftTable.load(spark, outDir, "t").get
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == (1L to 6L))
    // one snapshot per micro-batch (create + append), each txn-marked
    assert(t.log.snapshots.size == 2)
    assert(t.log.snapshots.forall(
      _.properties.contains(graft.warehouse.GraftTable.TxnBatchKey)))
    val head = t.currentSnapshotId.get
    // restart, nothing new: NO commit (not even an empty one)
    run()
    assert(t.currentSnapshotId.get == head, "idle restart committed")
    // crash-replay: re-deliver an already-committed batchId directly —
    // the marker probe must no-op before any write
    val appId = graft.streaming.EventStreams.txnAppId(ckpt)
    val sink = new graft.streaming.GraftTableSink(outDir, appId, complete = false)
    sink.addBatch(1L, (100L to 102L).toDF("id"))
    assert(t.currentSnapshotId.get == head, "replayed batch re-committed")
    assert(t.read().count() == 6)
    // Complete mode: each batch REPLACES — final state is the full agg
    val aggDir = Files.createTempDirectory("graft-sinkagg").resolve("agg")
    val aggCkpt = Files.createTempDirectory("graft-sinkaggckpt").toString
    val sq2 = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir)
      .groupBy((col("id") % 2).as("par")).agg(count(lit(1)).as("n"))
      .writeStream
      .outputMode("complete")
      .format(classOf[graft.streaming.GraftTableSinkProvider].getName)
      .option("path", aggDir.toString)
      .option("checkpointLocation", aggCkpt)
      .trigger(Trigger.AvailableNow())
      .start()
    sq2.awaitTermination()
    val ta = graft.warehouse.GraftTable.load(spark, aggDir, "agg").get
    assert(ta.read().select("par", "n").as[(Long, Long)].collect().sorted.toSeq
      == Seq((0L, 3L), (1L, 3L)))
    assert(ta.log.head.get.operation == "replace")
  }

  test("table sink Update mode: refusal matrix and direct guarded upsert") {
    import spark.implicits._
    val sqlc = spark.sqlContext
    val provider = new graft.streaming.GraftTableSinkProvider
    val base = Map("path" -> "/tmp/x", "checkpointLocation" -> "/tmp/c")
    // Update without the keyed contract refuses
    intercept[IllegalArgumentException] {
      provider.createSink(sqlc, base, Nil,
        org.apache.spark.sql.streaming.OutputMode.Update())
    }
    // mergeKeys outside Update refuses (silent reinterpretation is worse)
    intercept[IllegalArgumentException] {
      provider.createSink(sqlc, base + ("mergeKeys" -> "k"), Nil,
        org.apache.spark.sql.streaming.OutputMode.Append())
    }
    // Update cannot stage onto a branch
    intercept[IllegalArgumentException] {
      provider.createSink(sqlc,
        base ++ Map("mergeKeys" -> "k", "orderCol" -> "v", "branch" -> "b"),
        Nil, org.apache.spark.sql.streaming.OutputMode.Update())
    }
    // direct sink body: out-of-order redelivery converges, delete arm fires
    val dir = Files.createTempDirectory("graft-sinkupd").resolve("t")
    val sink = new graft.streaming.GraftTableSink(dir, "app", complete = false,
      mergeKeys = Seq("k"), orderCol = "ver", tiebreak = "ver",
      deleteWhen = Some("op = 'D'"))
    sink.addBatch(0L, Seq((1L, 10L, 1L, "U"), (2L, 20L, 1L, "U"))
      .toDF("k", "v", "ver", "op"))
    sink.addBatch(1L, Seq((1L, 30L, 3L, "U")).toDF("k", "v", "ver", "op"))
    // stale version arrives later: must not regress, must commit nothing
    val t = graft.warehouse.GraftTable.load(spark, dir, "t").get
    val head = t.currentSnapshotId.get
    sink.addBatch(2L, Seq((1L, 99L, 2L, "U")).toDF("k", "v", "ver", "op"))
    assert(t.currentSnapshotId.get == head, "stale batch must commit nothing")
    sink.addBatch(3L, Seq((2L, 0L, 4L, "D")).toDF("k", "v", "ver", "op"))
    assert(t.read().select("k", "v").as[(Long, Long)].collect().toSet ==
      Set((1L, 30L)))
    // replayed stale batchId no-ops on the marker
    val head2 = t.currentSnapshotId.get
    sink.addBatch(1L, Seq((2L, 77L, 9L, "U")).toDF("k", "v", "ver", "op"))
    assert(t.currentSnapshotId.get == head2)
  }

  test("table streaming source: maxBytesPerBatch budgets admission by recorded sizes") {
    import spark.implicits._
    val whDir = Files.createTempDirectory("graft-srcbytes")
    val t = graft.warehouse.GraftTable.create(spark,
      whDir.resolve("t"), "t", (1L to 3L).map(i => (i, s"v$i")).toDF("id", "v")).get
    t.append(Seq((4L, "v4")).toDF("id", "v"))
    t.append(Seq((5L, "v5")).toDF("id", "v"))
    def run(ckpt: String, budget: Long): Seq[Seq[Long]] = {
      val seen = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
      val sq = spark.readStream
        .format(classOf[graft.streaming.GraftTableSourceProvider].getName)
        .option("path", whDir.resolve("t").toString)
        .option("maxBytesPerBatch", budget.toString)
        .load()
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          val ids = b.select("id").as[Long].collect().sorted.toSeq
          seen.synchronized { seen += ids }: Unit
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      sq.awaitTermination()
      seen.toSeq
    }
    // 1-byte budget: minimum admission only — one source commit per
    // batch (the stream can never wedge on an oversized commit)
    val tiny = run(Files.createTempDirectory("graft-bb1").toString, 1L)
    assert(tiny.map(_.sorted) ==
      Seq(Seq(1L, 2L, 3L), Seq(4L), Seq(5L)), s"tiny budget: $tiny")
    // huge budget: everything drains as ONE batch
    val huge = run(Files.createTempDirectory("graft-bb2").toString, 1L << 40)
    assert(huge.map(_.sorted) == Seq(1L to 5L), s"huge budget: $huge")
  }

  test("table streaming sink stages onto a WAP branch; replay no-ops across publish") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("graft-wapsinkin").toString
    (4L to 6L).toDF("id").coalesce(1).write.mode("append").parquet(inDir)
    (7L to 9L).toDF("id").coalesce(1).write.mode("append").parquet(inDir)
    val outDir = Files.createTempDirectory("graft-wapsinkout").resolve("t")
    val t = graft.warehouse.GraftTable.create(spark, outDir, "t",
      (1L to 3L).toDF("id")).get
    t.createBranch("audit")
    val ckpt = Files.createTempDirectory("graft-wapckpt").toString
    val sq = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir)
      .writeStream
      .format(classOf[graft.streaming.GraftTableSinkProvider].getName)
      .option("path", outDir.toString)
      .option("branch", "audit")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    sq.awaitTermination()
    // main readers never saw the stream; the audit view has everything
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == (1L to 3L))
    assert(t.readBranch("audit").select("id").as[Long].collect().sorted.toSeq
      == (1L to 9L))
    // audit passes: ONE atomic publish lands both staged micro-batches
    val pub = t.publishBranch("audit")
    assert(pub.operation == "publish")
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == (1L to 9L))
    // crash-replay AFTER publish+drop: the carried markers no-op it —
    // no exception, no re-staging, head unmoved
    val head = t.currentSnapshotId.get
    val appId = graft.streaming.EventStreams.txnAppId(ckpt)
    new graft.streaming.GraftTableSink(outDir, appId,
      complete = false, branch = Some("audit"))
      .addBatch(1L, (100L to 102L).toDF("id"))
    assert(t.currentSnapshotId.get == head && t.branches.isEmpty)
    assert(t.read().count() == 9)
  }

  test("table streaming source: startingSnapshotId starts from a delta cut") {
    import spark.implicits._
    val whDir = Files.createTempDirectory("graft-srcstart")
    val t = graft.warehouse.GraftTable.create(spark,
      whDir.resolve("t"), "t", (1L to 3L).map(i => (i, s"v$i")).toDF("id", "v")).get
    val cut = t.append(Seq((4L, "v4")).toDF("id", "v")).snapshotId
    t.append(Seq((5L, "v5")).toDF("id", "v"))
    def run(opts: Map[String, String]): Seq[Long] = {
      val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
      val sq = spark.readStream
        .format(classOf[graft.streaming.GraftTableSourceProvider].getName)
        .option("path", whDir.resolve("t").toString)
        .options(opts)
        .load()
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          seen.synchronized {
            seen ++= b.select("id").as[Long].collect() }: Unit
        }
        .option("checkpointLocation",
          Files.createTempDirectory("graft-startckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      sq.awaitTermination()
      seen.toSeq.sorted
    }
    // the consumer already holds the state at `cut`: first batch is
    // the delta since it — NOT the initial snapshot
    assert(run(Map("startingSnapshotId" -> cut.toString)) == Seq(5L))
    // a cut below the retention horizon fails LOUDLY, never re-reads
    val ck = t.checkpoint()
    t.expireSnapshots(ck.snapshotId)
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(Map("startingSnapshotId" -> "1"))
    }
    def causes(e: Throwable): Seq[Throwable] =
      Option(e).toSeq.flatMap(t => t +: causes(t.getCause))
    assert(causes(failed).exists(
      _.isInstanceOf[graft.warehouse.HistoryExpiredException]),
      s"expected HistoryExpiredException, got $failed")
  }

  test("table streaming source: initial batch floors at the first retained snapshot") {
    import spark.implicits._
    val whDir = Files.createTempDirectory("graft-srcfloor")
    val t = graft.warehouse.GraftTable.create(spark,
      whDir.resolve("t"), "t", (1L to 3L).map(i => (i, s"v$i")).toDF("id", "v")).get
    (4L to 6L).foreach(i => t.append(Seq((i, s"v$i")).toDF("id", "v")))
    // expire the early history: firstId jumps to the checkpoint's id
    val ck = t.checkpoint()
    t.expireSnapshots(ck.snapshotId)
    assert(t.firstSnapshotId.contains(ck.snapshotId))
    // fresh checkpoint + maxSnapshotsPerBatch=1: the unfloored clamp
    // would plan the initial batch at offset min(head, 0+1)=1 — BELOW
    // the first retained snapshot — delivering the initial snapshot as
    // ZERO rows and poisoning the stream's checkpoint
    val ckpt = Files.createTempDirectory("graft-floorckpt").toString
    val seen = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    def run(): Unit = {
      val sq = spark.readStream
        .format(classOf[graft.streaming.GraftTableSourceProvider].getName)
        .option("path", whDir.resolve("t").toString)
        .option("maxSnapshotsPerBatch", "1")
        .load()
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          val ids = b.select("id").as[Long].collect().sorted.toSeq
          seen.synchronized { seen += ids }: Unit
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      sq.awaitTermination()
    }
    run()
    assert(seen.flatten.sorted == (1L to 6L),
      s"initial snapshot on expired-history table: $seen")
    // and the stream keeps tailing normally from there
    t.append(Seq((7L, "v7")).toDF("id", "v"))
    seen.clear()
    run()
    assert(seen.flatten.sorted == Seq(7L), s"delta after floor: $seen")
  }

  test("table sink addBatch evaluates the micro-batch source plan exactly once") {
    val outDir = Files.createTempDirectory("graft-sink1e").resolve("t")
    val acc = spark.sparkContext.longAccumulator("sink-evals")
    val bump = udf { id: Long => acc.add(1L); id }.asNondeterministic()
    def batch() = spark.range(0, 1000, 1, 4).select(bump(col("id")).as("id"))
    val sink = new graft.streaming.GraftTableSink(outDir, "app-1e",
      complete = false)
    // create path (batch 0): emptiness probe + create must share ONE
    // evaluation of the source plan (each partition computed once)
    sink.addBatch(0L, batch())
    assert(acc.value == 1000L,
      s"source plan evaluated ${acc.value} rows for 1000 — must be once")
    val t = graft.warehouse.GraftTable.load(spark, outDir, "t").get
    assert(t.read().count() == 1000)
    // append path (batch 1): same single-evaluation contract
    acc.reset()
    sink.addBatch(1L, batch())
    assert(acc.value == 1000L,
      s"append path evaluated ${acc.value} rows for 1000 — must be once")
    assert(t.read().count() == 2000)
    // update path (merge keys): latest+guard+merge still one evaluation
    val upDir = Files.createTempDirectory("graft-sink1eu").resolve("u")
    val upSink = new graft.streaming.GraftTableSink(upDir, "app-1eu",
      complete = false, mergeKeys = Seq("id"), orderCol = "id",
      tiebreak = "id")
    acc.reset()
    upSink.addBatch(0L, batch())
    assert(acc.value == 1000L,
      s"update path evaluated ${acc.value} rows for 1000 — must be once")
  }
}
