package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Dedup, Similarity}
import graft.service.{Mirror, SyncState}
import graft.warehouse.Connector

/** Writes beside changelog reads: appends, upserts and deletes against a
  * source that a replica mirrors through `Mirror.performSync`, and SQL
  * reads of the replica. */
final class MirrorWorkload extends Workload {
  private val initialRows = 6000
  private var initial: IndexedSeq[Row] = _
  private val model = mutable.Map.empty[Long, Row]
  private var nextKey = 1L
  private var replica: Connector = _
  private var state: SyncState = _
  private var url = ""
  /** The sizes of a cycle's five do_puts. */
  private val PutSizes = Seq(100, 100, 200, 300, 300)
  private val UpsertRows = 100
  private val DeleteKeys = 40
  /** Writes not yet covered by a sync: (source snapshot id, ack time). */
  private val pending = ArrayBuffer.empty[(Long, Long)]
  private var changedRows = 0L
  private var shippedRows = 0L
  private var ticksWithChanges = 0
  private var deltaTicks = 0

  def sizes = s"source of $initialRows orders rows; do_put of ${PutSizes.distinct.mkString(", ")} rows, " +
    s"do_upsert of $UpsertRows rows, deletes of $DeleteKeys-key ranges"
  def probeTable = "src"
  def probeKeys = Seq("o_orderkey")

  def prepare(ctx: Ctx): Unit = initial = (1L to initialRows).map(Data.order(ctx.rnd, _))

  def setup(ctx: Ctx): Unit = {
    model.clear(); pending.clear()
    initial.foreach(r => model(r.getLong(0)) = r)
    nextKey = initialRows + 1L
    ctx.connector.createTable("src", ctx.df(initial, Data.ordersSchema))
    val rdir = ctx.warehouse.resolveSibling(ctx.warehouse.getFileName.toString + "-replica")
    replica = new Connector(ctx.spark, rdir.toString)
    state = SyncState(rdir.resolve("_sync").toString)
    url = s"grpc://localhost:${ctx.service.boundPort}/src"
    val r = Mirror.performSync(ctx.client, url, "src", replica, "replica", state)
    require(r.status == "full_sync", s"initial sync: ${r.status}")
  }

  private def liveKeys = model.keys.toIndexedSeq.sorted

  private def acked(ctx: Ctx, sid: Long, rows: Long): Unit = {
    pending += sid -> System.nanoTime()
    if (ctx.timing) changedRows += rows
  }

  private def put(ctx: Ctx, n: Int): Unit = {
    val rows = (nextKey until nextKey + n).map(Data.order(ctx.rnd, _))
    nextKey += n
    val df = ctx.df(rows, Data.ordersSchema)
    ctx.op("write", "doPut") {
      (ctx.tracer.span("service.doPut")(ctx.client.doPut("src", df)), n.toLong)
    }.foreach { sid => rows.foreach(r => model(r.getLong(0)) = r); acked(ctx, sid, n) }
  }

  private def upsert(ctx: Ctx): Unit = {
    val keys = liveKeys
    val n = UpsertRows
    val ks = (Seq.fill(n * 4 / 5)(keys(ctx.rnd.nextInt(keys.size))) ++
      (nextKey until nextKey + n / 5)).distinct
    nextKey += n / 5
    val rows = ks.map(Data.order(ctx.rnd, _))
    val df = ctx.df(rows, Data.ordersSchema)
    ctx.op("write", "doUpsert") {
      (ctx.tracer.span("service.doUpsert")(ctx.client.doUpsert("src", df, Seq("o_orderkey"))), rows.size.toLong)
    }.foreach { sid => rows.foreach(r => model(r.getLong(0)) = r); acked(ctx, sid, rows.size) }
  }

  /** Deletes a range of old orders, keys of the initial rows, so that what
    * a copy-on-write delete rewrites, and thus the bytes it leaves on disk,
    * does not depend on which file the seed happens to pick. */
  private def delete(ctx: Ctx, mor: Boolean): Unit = {
    val keys = liveKeys
    val a = 1L + ctx.rnd.nextInt(initialRows - DeleteKeys + 1); val b = a + DeleteKeys - 1
    val gone = keys.filter(k => k >= a && k <= b)
    val cond = col("o_orderkey").between(a, b)
    ctx.op("write", if (mor) "deleteMor" else "deleteCow") {
      ctx.tracer.span("warehouse.delete") {
        if (mor) ctx.connector.loadTable("src").deleteWhereMor(cond)
        else ctx.connector.delete("src", cond)
      }
      (ctx.connector.getCurrentSnapshotId("src").get, gone.size.toLong)
    }.foreach { sid => gone.foreach(model.remove); acked(ctx, sid, gone.size) }
  }

  private def sync(ctx: Ctx): Unit =
    ctx.op("sync", "performSync") {
      val r = ctx.tracer.span("service.performSync")(
        Mirror.performSync(ctx.client, url, "src", replica, "replica", state))
      if (r.status.startsWith("error")) {
        countStatus(ctx, "error")
        throw new IllegalStateException(r.status)
      }
      (r, r.rowsSynced)
    }.foreach { r =>
      val now = System.nanoTime()
      val upTo = r.sourceSnapshot.getOrElse(-1L)
      val (covered, rest) = pending.partition(_._1 <= upTo)
      pending.clear(); pending ++= rest
      if (ctx.timing) {
        covered.foreach { case (_, at) => ctx.lags += (now - at) / 1e6 }
        countStatus(ctx, r.status)
        if (r.status != "up_to_date") {
          ticksWithChanges += 1
          shippedRows += r.rowsSynced
          if (r.status.startsWith("incremental")) deltaTicks += 1
        }
        ctx.layer("service.sync_delta_ratio") = deltaTicks.toDouble / math.max(1, ticksWithChanges)
        ctx.layer("service.rows_shipped_per_changed_row") = shippedRows.toDouble / math.max(1L, changedRows)
      }
    }

  /** `Mirror` reports a failed tick as "error: <message>"; it is counted
    * as "error". */
  private def countStatus(ctx: Ctx, status: String): Unit = if (ctx.timing) {
    val key = s"service.sync_status.$status"
    ctx.layer(key) = ctx.layer.getOrElse(key, 0.0) + 1
  }

  /** Reads of the replica right after a sync, when it must equal the
    * source: a point lookup and a group-by aggregate. */
  private def read(ctx: Ctx): Unit = {
    val keys = liveKeys
    val k = keys(ctx.rnd.nextInt(keys.size))
    ctx.op("read", "replicaPointSql") {
      val r = ctx.sql(replica, s"SELECT * FROM replica WHERE o_orderkey = $k")
      (r, r.length.toLong)
    }.foreach(r => ctx.check("replica point lookup")(r.toSeq == Seq(model(k))))
    ctx.op("read", "replicaAggSql") {
      val r = ctx.sql(replica, "SELECT o_orderstatus, count(*), sum(o_custkey) FROM replica " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus")
      (r, r.length.toLong)
    }.foreach(r => ctx.check("replica group-by aggregate")(
      r.map(g => (g.getString(0), g.getLong(1), g.getLong(2))).toSeq ==
        model.values.groupBy(_.getString(2)).toSeq.sortBy(_._1)
          .map { case (st, rs) => (st, rs.size.toLong, rs.map(_.getLong(1)).sum) }))
  }

  /** Three sync ticks, each over a fixed set of writes in seeded order:
    * two do_puts (a tick over appends only, the `get_changes` path); a
    * do_put, an upsert and a copy-on-write delete (the `get_diff` path);
    * two do_puts and a merge-on-read delete (the op-log path). Then reads
    * of the replica. Every cycle holds the same operations, 8 writes (5
    * appends, 1 upsert, 2 deletes), 3 ticks and 2 reads, so cycles are
    * alike in cost; the seed picks the order of the writes and their keys. */
  def cycle(ctx: Ctx): Unit = {
    val sizes = ctx.rnd.shuffle(PutSizes).iterator
    Seq(Seq("put", "put"), Seq("put", "upsert", "deleteCow"), Seq("put", "put", "deleteMor"))
      .foreach { writes =>
        ctx.rnd.shuffle(writes).foreach {
          case "put" => put(ctx, sizes.next())
          case "upsert" => upsert(ctx)
          case "deleteCow" => delete(ctx, mor = false)
          case "deleteMor" => delete(ctx, mor = true)
        }
        sync(ctx)
      }
    read(ctx)
  }

  def finish(ctx: Ctx): Unit = {
    def rows(c: Connector, t: String) = c.query(t).collect().toSeq.sortBy(_.getLong(0))
    val src = rows(ctx.connector, "src")
    ctx.check("source holds every acknowledged write")(src == model.values.toSeq.sortBy(_.getLong(0)))
    ctx.check("replica equals source as a multiset")(rows(replica, "replica") == src)
  }
}

final case class DocRow(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

/** The LLM-data pipeline: a micro-batch sink, a near-dup filter against the
  * corpus, and top-k similarity queries. Flight is idle here. */
final class CurateWorkload extends Workload {
  private val initialDocs = 300
  private val shardsPerCycle = 2
  private val shardDocs = 25
  private val nearCopies = 8
  private val nVectors = 1500
  private val nQueries = 6
  private val k = 5
  private var docs0: IndexedSeq[Row] = _
  private var centres: Array[Array[Float]] = _
  private var vectors: IndexedSeq[Array[Float]] = _
  private val corpus = ArrayBuffer.empty[(Long, String, Set[String])]
  private var nextId = 1L
  private var mem: MemoryStream[DocRow] = _
  private var query: StreamingQuery = _

  def sizes = s"docs corpus of $initialDocs docs, shards of $shardDocs docs; " +
    s"embeddings $nVectors x ${Data.Dim}, $nQueries queries, k=$k"
  def probeTable = "docs"
  def probeKeys = Seq("doc_id")

  def prepare(ctx: Ctx): Unit = {
    docs0 = (1L to initialDocs).map(i => Data.doc(ctx.rnd, i, Data.freshText(ctx.rnd)))
    centres = Data.centres(ctx.rnd)
    vectors = Data.vectors(ctx.rnd, centres, nVectors)
  }

  def setup(ctx: Ctx): Unit = {
    corpus.clear()
    docs0.foreach(r => corpus += ((r.getLong(0), r.getString(1), Data.tokens(r.getString(1)))))
    nextId = initialDocs + 1L
    ctx.connector.createTable("docs", ctx.df(docs0, Data.docsSchema))
    ctx.connector.createTable("embeddings", ctx.df(vectors.zipWithIndex.map { case (v, i) =>
      Row(i + 1L, v.toSeq, i % 7) }, Data.embeddingsSchema))
    mem = MemoryStream[DocRow](Encoders.product[DocRow], ctx.spark.sqlContext)
    query = mem.toDF().writeStream
      .format(classOf[graft.streaming.GraftTableSinkProvider].getName)
      .option("path", ctx.warehouse.resolve("default").resolve("docs").toString)
      .option("checkpointLocation", ctx.warehouse.resolve("_checkpoint").toString)
      .start()
  }

  override def teardown(ctx: Ctx): Unit = if (query != null) { query.stop(); query = null }

  /** A shard of fresh documents and near copies of corpus documents. */
  private def shard(ctx: Ctx): Seq[DocRow] = ctx.rnd.shuffle(Seq.tabulate(shardDocs)(_ < nearCopies)).map { near =>
    val id = nextId; nextId += 1
    val text =
      if (near) Data.nearCopy(ctx.rnd, corpus(ctx.rnd.nextInt(corpus.size))._2)
      else Data.freshText(ctx.rnd)
    val r = Data.doc(ctx.rnd, id, text)
    DocRow(id, text, r.getString(2), r.getString(3), r.getLong(4))
  }

  /** Land two shards, each as one micro-batch, filter them against the
    * corpus as it was before, then run one exact and one IVF top-k batch.
    * Two commits per cycle give the commit-latency median enough samples. */
  def cycle(ctx: Ctx): Unit = {
    val before = ctx.connector.getCurrentSnapshotId("docs")
    val shards = Seq.fill(shardsPerCycle)(shard(ctx))
    shards.foreach { docs =>
      ctx.op("write", "streamBatch") {
        ctx.tracer.span("streaming.processAllAvailable") {
          mem.addData(docs)
          query.processAllAvailable()
        }
        ((), docs.size.toLong)
      }
    }
    val docs = shards.flatten
    val shardDf = ctx.df(docs.map(d => Row(d.doc_id, d.text, d.lang, d.source, d.n_chars)), Data.docsSchema)
    ctx.op("compute", "nearDupFilter") {
      val old = ctx.connector.loadTable("docs").read(before)
      val kept = ctx.tracer.span("operators.crossNearDupFilter")(
        Dedup.crossNearDupFilter(shardDf, old, "doc_id", "text", 0.8).select("doc_id").collect())
      (kept.map(_.getLong(0)).toSet, docs.size.toLong)
    }.foreach(kept => ctx.check("near-dup filter keeps exactly the docs unlike the corpus")(
      kept == docs.filterNot { d =>
        val t = Data.tokens(d.text); corpus.exists(c => Data.jaccard(t, c._3) >= 0.8)
      }.map(_.doc_id).toSet))
    docs.foreach(d => corpus += ((d.doc_id, d.text, Data.tokens(d.text))))

    ctx.rnd.shuffle(Seq(true, false)).foreach(topK(ctx, _))
  }

  /** One batch of top-k queries, exact or through the IVF index. */
  private def topK(ctx: Ctx, exact: Boolean): Unit = {
    val qs = Data.vectors(ctx.rnd, centres, nQueries)
    val qdf = ctx.df(qs.zipWithIndex.map { case (v, i) => Row(1000000L + i, v.toSeq, 0) }, Data.embeddingsSchema)
    ctx.op("compute", if (exact) "bruteForceTopK" else "ivfTopK") {
      val emb = ctx.connector.query("embeddings")
      val r = if (exact)
        ctx.tracer.span("operators.bruteForceTopK")(Similarity.bruteForceTopK(emb, qdf, "vec_id", "embedding", k).collect())
      else ctx.tracer.span("operators.ivfTopK")(Similarity.ivfTopK(emb, qdf, "vec_id", "embedding", k).collect())
      (r, nQueries.toLong)
    }.foreach(r => ctx.check(s"top-k neighbours (${if (exact) "exact" else "ivf"})") {
      r.groupBy(_.getLong(0)).size == nQueries && r.groupBy(_.getLong(0)).forall { case (qid, hits) =>
        val q = qs((qid - 1000000L).toInt)
        val sims = vectors.map(Data.cosine(q, _))
        val sorted = sims.sorted(Ordering[Double].reverse)
        hits.forall(h => math.abs(h.getDouble(2) - sims((h.getLong(1) - 1).toInt)) < 1e-5) &&
          (!exact || (hits.length == k && hits.map(_.getDouble(2)).min >= sorted(k - 1) - 1e-5))
      }
    })
  }

  def finish(ctx: Ctx): Unit =
    ctx.check("docs holds each landed shard exactly once") {
      val r = ctx.connector.sql("SELECT count(*), count(DISTINCT doc_id) FROM docs").collect().head
      r.getLong(0) == corpus.size && r.getLong(1) == corpus.size
    }
}
