package graft.service

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.net.{Socket, URI}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Client for [[FlightService]] — the counterpart of the reference's
  * Flight client roles (`icerunner.py:716-800`). One short-lived
  * connection per request; all data-plane payloads are Arrow IPC
  * streams.
  */
final class FlightClient(spark: SparkSession, val host: String, val port: Int,
    batchRows: Int = 4096) {

  /** One request on a fresh connection. A `body` is streamed after the
    * request line as one Arrow IPC stream, and the write side is then
    * shut so the server reads it to EOF. */
  private def call[A](request: String, body: Option[DataFrame] = None)(
      f: (Wire.Resp, BufferedInputStream) => A): A = {
    val sock = new Socket(host, port)
    try {
      val out = new BufferedOutputStream(sock.getOutputStream)
      val in = new BufferedInputStream(sock.getInputStream)
      Wire.writeLine(out, request)
      body.foreach { df =>
        ArrowCodec.write(df, out, batchRows)
        out.flush()
        sock.shutdownOutput()
      }
      val resp = new Wire.Resp(Wire.readLine(in)).require()
      f(resp, in)
    } finally sock.close()
  }

  /** Reference: `get_remote_tables` (`icerunner.py:778-800`) — but the
    * server actually implements it, no fallback enumeration needed. */
  def listTables(): Seq[String] =
    call(Wire.obj("action" -> "list_tables"))((r, _) => r.strs("tables"))

  /** Schema + endpoint info without a table scan (reference:
    * `get_flight_info`, `icerunner.py:297-310`). */
  def getFlightInfo(table: String): FlightClient.Info =
    call(Wire.obj("action" -> "get_flight_info", "table" -> table)) { (r, _) =>
      FlightClient.Info(Wire.schemaOf(r.str("schema")), r.num("total_records"),
        r.num("snapshot_id"), r.str("host"), r.num("port").toInt)
    }

  /** Resolve the data-plane client for `table`: follow the endpoint
    * location advertised in `get_flight_info` when it differs from this
    * control connection (the reference's mirror honors `FlightEndpoint`
    * locations the same way — `icerunner.py:925-934`). Returns `this`
    * when the endpoint is the connection itself.
    *
    * Cached per table with a TTL so steady-state poll loops don't pay
    * an extra control round trip every tick, yet an endpoint that MOVES
    * while the old node still answers is re-followed within
    * [[FlightClient.EndpointTtlMs]]; callers additionally invalidate on
    * data-plane errors ([[invalidateEndpoint]]) for immediate
    * re-resolution when the old node goes away. */
  def forEndpoint(table: String): FlightClient = {
    val now = System.currentTimeMillis()
    endpointCache.get(table) match {
      case Some((c, at)) if now - at < FlightClient.EndpointTtlMs => c
      case _ =>
        val info = getFlightInfo(table)
        val h = if (info.host.isEmpty) host else info.host
        val c = if (h == host && info.port == port) this
          else new FlightClient(spark, h, info.port, batchRows)
        endpointCache.put(table, (c, now))
        c
    }
  }

  /** Drop the cached endpoint for `table` (call after a data-plane
    * failure; the next [[forEndpoint]] re-resolves). */
  def invalidateEndpoint(table: String): Unit = endpointCache.remove(table)

  private val endpointCache =
    scala.collection.concurrent.TrieMap.empty[String, (FlightClient, Long)]

  /** Full table read (reference: `do_get`, `icerunner.py:272-282`).
    * Returns the rows together with the snapshot id they were read AT —
    * the id a replica must record so a concurrent append can't be
    * double-synced on the next tick. */
  def doGet(table: String): FlightClient.Fetched =
    call(Wire.obj("action" -> "do_get", "table" -> table)) { (r, in) =>
      val body = ArrowCodec.read(spark, in)
      FlightClient.Fetched(body.df, body.rows, r.num("snapshot_id"), () => body.cleanup())
    }

  /** Incremental read: rows appended in `(since, snapshot]` for the
    * snapshot pinned server-side at read time (the action the
    * reference's mirror requests but its server never serves —
    * `icerunner.py:996-1016`). */
  def getChanges(table: String, since: Long,
      until: Long = Long.MaxValue): FlightClient.Fetched =
    call(Wire.obj("action" -> "get_changes", "table" -> table,
        "since" -> since, "until" -> until)) { (r, in) =>
      val body = ArrowCodec.read(spark, in)
      FlightClient.Fetched(body.df, body.rows, r.num("snapshot_id"), () => body.cleanup())
    }

  /** The source's operation log in `(since, head]` as (snapshotId,
    * operation, predicateSql) triples — predicateSql non-empty only
    * for PREDICATE merge-on-read deletes, whose whole payload is that
    * SQL text — plus the head id. Lets a replica decide REPLAYABILITY
    * before moving any data (Mirror's op-log path). Servers predating
    * `op_preds` yield empty strings (json4s default), which reads as
    * "no predicate" — the replay then refuses a file-less eqdelete
    * loudly instead of guessing. */
  def getOplog(table: String, since: Long): (Long, Seq[(Long, String, String)]) =
    call(Wire.obj("action" -> "get_oplog", "table" -> table,
        "since" -> since)) { (r, _) =>
      val ids = r.nums("op_ids"); val names = r.strs("op_names")
      val preds = r.strs("op_preds")
        .padTo(ids.length, "") // pre-op_preds server: all non-predicate
      (r.num("snapshot_id"),
        ids.indices.map(i => (ids(i), names(i), preds(i))))
    }

  /** Key tuples of one eqdelete snapshot — the wire form of a
    * merge-on-read delete ([[graft.warehouse.GraftTable.deleteKeysOf]]). */
  def getDeleteKeys(table: String, snapshotId: Long): FlightClient.Fetched =
    call(Wire.obj("action" -> "get_delete_keys", "table" -> table,
        "since" -> snapshotId)) { (r, in) =>
      val body = ArrowCodec.read(spark, in)
      FlightClient.Fetched(body.df, body.rows, r.num("snapshot_id"), () => body.cleanup())
    }

  /** Changelog read: `_change_type`-tagged rows in `(since, snapshot]`,
    * valid across rewrites the append-only getChanges refuses. */
  def getDiff(table: String, since: Long): FlightClient.Fetched =
    call(Wire.obj("action" -> "get_diff", "table" -> table,
        "since" -> since)) { (r, in) =>
      val body = ArrowCodec.read(spark, in)
      FlightClient.Fetched(body.df, body.rows, r.num("snapshot_id"), () => body.cleanup())
    }

  /** Schema only (reference client command: `icerunner.py:942-952`). */
  def getSchema(table: String): StructType =
    call(Wire.obj("action" -> "get_schema", "table" -> table)) { (r, _) =>
      Wire.schemaOf(r.str("schema"))
    }

  /** The source's retained schema eras in commit order — the record a
    * replica replays rename/drop evolution from (field ids ride in the
    * schema JSON's field metadata). */
  def getSchemaHistory(table: String): Seq[StructType] =
    call(Wire.obj("action" -> "get_schema_history", "table" -> table)) {
      (r, _) => r.strs("schemas").map(Wire.schemaOf)
    }

  /** Declared layout (serialized partition spec + sort order) for
    * replication — the mirror re-declares it on the replica. */
  def getLayout(table: String): (String, String, Seq[(String, String)]) =
    call(Wire.obj("action" -> "get_layout", "table" -> table)) { (r, _) =>
      (r.str("spec"), r.str("sort"),
        r.strs("checks").map { e =>
          val i = e.indexOf('=')
          (e.substring(0, i), e.substring(i + 1))
        })
    }

  /** Snapshot metadata (reference client: `icerunner.py:1021-1037`). */
  def getMetadata(table: String): FlightClient.Meta =
    call(Wire.obj("action" -> "get_metadata", "table" -> table)) { (r, _) =>
      FlightClient.Meta(r.num("snapshot_id"), Wire.schemaOf(r.str("schema")))
    }

  /** Append rows (reference: `do_put`, `icerunner.py:284-295`); creates
    * the table on first put. Returns the new snapshot id. */
  def doPut(table: String, df: DataFrame): Long =
    call(Wire.obj("action" -> "do_put", "table" -> table), Some(df)) {
      (r, _) => r.num("snapshot_id")
    }

  /** Copy-on-write MERGE INTO by key over the wire (parity-plus: the
    * reference writer can only append). Creates the table when absent;
    * returns the new snapshot id. */
  def doUpsert(table: String, df: DataFrame, keys: Seq[String]): Long = {
    require(keys.nonEmpty, "doUpsert requires at least one key column")
    call(Wire.obj("action" -> "do_upsert", "table" -> table, "keys" -> keys),
        Some(df)) { (r, _) => r.num("snapshot_id") }
  }
}

object FlightClient {
  /** How long a resolved data-plane endpoint is trusted before the next
    * `forEndpoint` re-reads `get_flight_info` (bounds staleness when an
    * advertisement changes while the old node keeps serving). */
  val EndpointTtlMs: Long = 60000L

  /** A fetched body, its decoded row count (known without a Spark job)
    * and the snapshot it was pinned at. `cleanup()` releases any
    * client-side spill chunks once the rows are consumed. */
  final case class Fetched(df: DataFrame, rows: Long, snapshotId: Long,
      cleanup: () => Unit = () => ())
  final case class Info(schema: StructType, totalRecords: Long,
      snapshotId: Long, host: String, port: Int)
  final case class Meta(snapshotId: Long, schema: StructType)

  /** Parse `grpc://host:port/table` (reference: `parse_flight_url`,
    * `icerunner.py:770-775`; default port 8815). */
  def parseUrl(url: String): (String, Int, Option[String]) = {
    val u = new URI(url)
    val host = Option(u.getHost).getOrElse("localhost")
    val port = if (u.getPort == -1) 8815 else u.getPort
    val table = Option(u.getPath).map(_.stripPrefix("/")).filter(_.nonEmpty)
    (host, port, table)
  }
}
