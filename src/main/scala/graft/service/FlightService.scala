package graft.service

import java.io.{BufferedInputStream, BufferedOutputStream, InputStream, OutputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicBoolean
import scala.util.control.NonFatal

import org.apache.spark.sql.types.{DataType, StructType}

import graft.warehouse.Connector

/** Flight-shaped data service over Arrow IPC on a plain TCP socket.
  *
  * Semantics mirror the reference's Flight server
  * (`icerunner.py:262-310`) plus the four command actions its mirror
  * client sends but its server never implements (`LIST_TABLES`
  * `:782-787`, `get_schema` `:942-952`, `get_changes` `:996-1016`,
  * `get_metadata` `:1021-1037` — SURVEY.md §2A protocol-asymmetry note);
  * implementing them server-side is what makes incremental replication
  * actually work. Wire framing is ours (no Flight/gRPC jar offline,
  * SURVEY.md §7.1): one JSON request line, one JSON response line, then
  * an optional Arrow IPC stream body in either direction.
  *
  * Reference fixes baked in:
  *  - `get_flight_info` serves the schema from catalog metadata — the
  *    reference runs a full table scan for it (`icerunner.py:306`);
  *  - `do_get` streams bounded Arrow batches — the reference
  *    materializes the whole table (`icerunner.py:278-279`);
  *  - the advertised endpoint carries the actual bound port — the
  *    reference hardcodes its default port (`icerunner.py:303`).
  *
  * Requests: `{"action": A, "table": T, "since": N}` with A ∈
  * list_tables | get_flight_info | do_get | do_put | get_changes |
  * get_metadata. `do_put` appends (creating the table if absent).
  */
final class FlightService(connector: Connector, port: Int = 0,
    batchRows: Int = 4096,
    advertiseHost: Option[String] = None,
    advertisePort: Option[Int] = None) {

  private val server = new ServerSocket()
  server.bind(new InetSocketAddress(port))
  private val running = new AtomicBoolean(true)

  /** The actually-bound port (fixes `icerunner.py:303`). */
  def boundPort: Int = server.getLocalPort

  private val acceptThread = new Thread(() => {
    while (running.get()) {
      try {
        val sock = server.accept()
        val t = new Thread(() => handle(sock), "graft-flight-handler")
        t.setDaemon(true)
        t.start()
      } catch {
        case NonFatal(_) if !running.get() => // closed during shutdown
        case NonFatal(e) => System.err.println(s"[flight] accept: $e")
      }
    }
  }, "graft-flight-accept")
  acceptThread.setDaemon(true)
  acceptThread.start()

  def close(): Unit = {
    running.set(false)
    server.close()
  }

  private def handle(sock: Socket): Unit = {
    // Active session is thread-local in Spark; handler threads are fresh,
    // so command execution (e.g. the parquet write under do_put) would
    // otherwise NPE resolving it. SparkPlan resolves the *classic*
    // companion's thread-local, so it must be set via that companion.
    connector.spark match {
      case cs: org.apache.spark.sql.classic.SparkSession =>
        org.apache.spark.sql.classic.SparkSession.setActiveSession(cs)
      case _ =>
    }
    try {
      val in = new BufferedInputStream(sock.getInputStream)
      val out = new BufferedOutputStream(sock.getOutputStream)
      val req = Wire.parse(Wire.readLine(in))
      try dispatch(req, in, out)
      catch {
        case Wire.BodyFailed(_) => // response line already sent; just close
        case e: Throwable =>
          // machine-readable code for the failure modes clients act on
          // (vs. string-matching relayed messages)
          val code = e match {
            case _: graft.warehouse.HistoryExpiredException => "history_expired"
            case _: NoSuchElementException => "not_found"
            case _ => ""
          }
          Wire.writeLine(out, Wire.obj("ok" -> false, "code" -> code,
            "error" -> s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"))
      }
      out.flush()
    } catch {
      case e: Throwable => System.err.println(s"[flight] handler: $e")
    } finally sock.close()
  }

  private def dispatch(req: Wire.Req, in: InputStream, out: OutputStream): Unit =
    req.action match {
      case "list_tables" =>
        Wire.writeLine(out,
          Wire.obj("ok" -> true, "tables" -> connector.tables))

      case "get_flight_info" =>
        // The advertised endpoint is where the DATA plane lives — by
        // default this service's own bound address, but a front/relay
        // deployment can advertise a different host/port and clients
        // follow it (the reference's mirror honors FlightEndpoint
        // locations the same way, `icerunner.py:925-934`).
        val t = connector.loadTable(req.table)
        Wire.writeLine(out, Wire.obj(
          "ok" -> true,
          "schema" -> t.schema.json,
          "total_records" -> -1, // unknown without a scan, like the reference
          "snapshot_id" -> Wire.JNum(t.currentSnapshotId.getOrElse(0L)),
          "host" -> Wire.JStr(advertiseHost.getOrElse("")),
          "port" -> Wire.JNum(advertisePort.getOrElse(boundPort).toLong)))

      // Reads pin the snapshot BEFORE the ok-line and report it, so a
      // client records exactly the state it received — a concurrent
      // append between metadata and data fetch can neither be missed nor
      // double-synced (the mirror's read-then-record race).
      case "do_get" =>
        val t = connector.loadTable(req.table)
        val snap = t.currentSnapshotId.getOrElse(0L)
        val df = t.read(Some(snap))
        Wire.writeLine(out, Wire.obj("ok" -> true, "snapshot_id" -> Wire.JNum(snap)))
        writeBody(df, out)

      case "get_changes" =>
        val t = connector.loadTable(req.table)
        val snap = t.currentSnapshotId.getOrElse(0L)
        // optional `until` bounds the window — the op-log replay asks
        // for exactly the appends between two replayed operations
        val until = if (req.until > snap) snap else req.until
        val df = t.changesSince(req.since, until)
        Wire.writeLine(out, Wire.obj("ok" -> true, "snapshot_id" -> Wire.JNum(until)))
        writeBody(df, out)

      case "get_oplog" =>
        // The source's operation log in (since, head]: (id, operation)
        // pairs — what lets a replica decide whether the window is
        // REPLAYABLE op by op (appends + merge-on-read deletes) without
        // shipping any data yet.
        val t = connector.loadTable(req.table)
        val snaps = t.log.snapshots
        val head = snaps.lastOption.map(_.snapshotId).getOrElse(0L)
        val window = snaps.filter(_.snapshotId > req.since)
        Wire.writeLine(out, Wire.obj(
          "ok" -> true,
          "snapshot_id" -> Wire.JNum(head),
          "op_ids" -> Wire.JSeq(window.map(s => Wire.JNum(s.snapshotId))),
          "op_names" -> Wire.JSeq(window.map(s => Wire.JStr(s.operation))),
          // PREDICATE-delete payloads ride the log itself (zero files
          // source-side, zero rows on the wire): the replica re-applies
          // the SQL text as its own deleteWhereMor — "" for every
          // non-predicate op
          "op_preds" -> Wire.JSeq(window.map(s => Wire.JStr(
            s.properties.getOrElse(
              graft.warehouse.SnapshotLog.PredDeleteKey, ""))))))

      case "get_delete_keys" =>
        // The key tuples of one eqdelete snapshot (`since` names it) —
        // the wire form of a merge-on-read delete, O(|keys|) payload.
        val t = connector.loadTable(req.table)
        val df = t.deleteKeysOf(req.since)
        Wire.writeLine(out,
          Wire.obj("ok" -> true, "snapshot_id" -> Wire.JNum(req.since)))
        writeBody(df, out)

      case "get_diff" =>
        // Row changelog in (since, head]: crosses upserts/deletes/
        // compactions that get_changes refuses, carrying only the
        // delta over the wire — the mirror's alternative to a full
        // re-copy after a source rewrite. Rows arrive with a
        // `_change_type` column. The per-commit change walk netted
        // once over the window (GraftTable.netChanges): transient
        // in-window churn cancels, so the mirror's exceptAll apply
        // stays sound; unlike the file-set diff this stays valid
        // across MERGE-ON-READ deletes in the window and skips
        // maintenance compacts instead of paying a full-table compare.
        val t = connector.loadTable(req.table)
        val snap = t.currentSnapshotId.getOrElse(0L)
        val df = t.netChanges(req.since, snap)
        Wire.writeLine(out, Wire.obj("ok" -> true, "snapshot_id" -> Wire.JNum(snap)))
        writeBody(df, out)

      case "get_metadata" =>
        val t = connector.loadTable(req.table)
        Wire.writeLine(out, Wire.obj(
          "ok" -> true,
          "snapshot_id" -> Wire.JNum(t.currentSnapshotId.getOrElse(0L)),
          "schema" -> t.schema.json))

      case "get_layout" =>
        // the declared layout travels with replication: the mirror
        // applies the source's partition spec / sort order / CHECK
        // constraints to the replica so delta appends land prunable
        // there too — and a replica promoted to primary keeps
        // enforcing what the source enforced. One "name=sql" string
        // per constraint (names are [A-Za-z0-9_-]+, so the FIRST '='
        // is an unambiguous separator).
        val t = connector.loadTable(req.table)
        Wire.writeLine(out, Wire.obj(
          "ok" -> true,
          "spec" -> t.partitionSpecSerialized,
          "sort" -> t.sortOrder.mkString(","),
          "checks" -> t.checkConstraints.toSeq.sorted
            .map { case (n, sql) => s"$n=$sql" }))

      case "get_schema" =>
        // The reference's mirror sends this command and falls back to
        // schema-from-first-batch when unanswered (`icerunner.py:942-961`)
        // — answered here from catalog metadata, no scan.
        Wire.writeLine(out, Wire.obj(
          "ok" -> true, "schema" -> connector.loadTable(req.table).schema.json))

      case "get_schema_history" =>
        // The retained SCHEMA ERAS in commit order (consecutive
        // duplicates collapsed): what a replica needs to replay
        // rename/drop evolution by field id instead of a full rebuild
        // ([[Mirror]] reconciliation). Manifest-only.
        // empty schemaJson entries are dropped BEFORE collapsing (same
        // guard as requireNameFresh): an empty era string would make
        // the client's Wire.schemaOf throw inside reconcileEvolution,
        // demoting a replayable rename tick to a full rebuild
        val hist = connector.loadTable(req.table).log.snapshots
          .map(_.schemaJson).filter(_.nonEmpty)
          .foldLeft(List.empty[String]) { (acc, s) =>
            if (acc.headOption.contains(s)) acc else s :: acc
          }.reverse
        Wire.writeLine(out, Wire.obj("ok" -> true, "schemas" -> hist))

      case "do_put" =>
        // Body follows the request line; appends, creating on first put
        // (the reference's default writer/server pairing cannot create —
        // SURVEY.md §2A-19 — so a fresh writer target just works here).
        // Bodies larger than one chunk are spilled to staged parquet as
        // they arrive, so ingest memory is bounded regardless of size.
        val body = ArrowCodec.read(connector.spark, in)
        try {
          // Keyed on createTable's return value, not a check-then-act
          // tableExists probe: when it reports the table already existed
          // the body is appended instead of silently dropped. Under a
          // true create RACE the snapshot log's commit loop keeps every
          // racer's rows and derives each commit's operation from the
          // head it lands on, so exactly one snapshot is the `create`;
          // the `created` flag is best-effort, not a race verdict.
          val created = connector.createTable(req.table, body.df)
          if (!created) connector.insert(req.table, body.df)
          Wire.writeLine(out, Wire.obj(
            "ok" -> true, "created" -> created,
            "snapshot_id" -> Wire.JNum(connector.getCurrentSnapshotId(req.table).getOrElse(0L))))
        } finally body.cleanup()

      case "do_upsert" =>
        // MERGE INTO by key over the wire (parity-plus; the reference is
        // insert-only). Same bounded-spill body handling as do_put.
        val body = ArrowCodec.read(connector.spark, in)
        try {
          // resolution must match the engine's: Spark resolves columns
          // case-insensitively unless spark.sql.caseSensitive is set
          val caseSensitive = connector.spark.conf
            .get("spark.sql.caseSensitive", "false").toBoolean
          val bodyCols =
            if (caseSensitive) body.df.columns.toSet
            else body.df.columns.map(_.toLowerCase).toSet
          val missing = req.keys.filterNot(k =>
            bodyCols.contains(if (caseSensitive) k else k.toLowerCase))
          if (req.keys.isEmpty)
            Wire.writeLine(out, Wire.obj("ok" -> false,
              "code" -> "bad_request", "error" -> "do_upsert requires keys"))
          else if (missing.nonEmpty)
            // Reject BEFORE any create: a failed request must not leave
            // a freshly-created empty table behind as a side effect.
            Wire.writeLine(out, Wire.obj("ok" -> false,
              "code" -> "bad_request",
              "error" -> s"do_upsert keys absent from body schema: ${missing.mkString(", ")}"))
          else {
            // Create an EMPTY table when absent, then ALWAYS merge: two
            // concurrent do_upserts to a fresh table must serialize
            // through the upsert CAS, not both append raw bodies (the
            // do_put create race is harmless for append semantics, NOT
            // for one-row-per-key merge semantics). Racing zero-row
            // creates land as empty snapshots, harmlessly.
            // No rollback of the create if the merge then fails: a
            // drop here would be check-then-act racing concurrent
            // writers (their committed snapshots could land between any
            // emptiness check and the drop, and dropTable deletes the
            // directory). The key pre-validation above removes the
            // common failure mode; a rare fresh-create-then-merge-fail
            // leaves an empty table, which is benign and re-usable.
            val created = connector.createTable(req.table, body.df.limit(0))
            connector.upsert(req.table, body.df, req.keys)
            Wire.writeLine(out, Wire.obj(
              "ok" -> true, "created" -> created,
              "snapshot_id" -> Wire.JNum(connector.getCurrentSnapshotId(req.table).getOrElse(0L))))
          }
        } finally body.cleanup()

      case other =>
        Wire.writeLine(out, Wire.obj("ok" -> false, "error" -> s"unknown action: $other"))
    }

  /** Stream an Arrow body after an ok-line. A mid-stream execution
    * failure must NOT append a JSON error line into what the client is
    * parsing as Arrow bytes — abort the connection instead (the client
    * surfaces a stream error) and log server-side. */
  private def writeBody(df: org.apache.spark.sql.DataFrame, out: OutputStream): Unit =
    try ArrowCodec.write(df, out, batchRows)
    catch {
      // every Throwable: after the ok-line, ANY failure mode (incl.
      // interrupts/errors) must abort the connection, never append JSON
      // into the Arrow byte stream
      case e: Throwable =>
        System.err.println(s"[flight] body stream failed: $e")
        throw Wire.BodyFailed(e)
    }
}

/** Line-framed JSON for the control plane; bodies are raw Arrow IPC. */
private[service] object Wire {
  final case class Req(action: String, table: String, since: Long,
      keys: Seq[String] = Nil, until: Long = Long.MaxValue)

  /** Marker: the ok-line went out but the Arrow body failed mid-stream. */
  final case class BodyFailed(cause: Throwable) extends RuntimeException(cause)

  /** A relayed server-side failure, with its machine-readable code
    * (empty when the server attached none). */
  final case class ServiceError(code: String, msg: String)
    extends RuntimeException(s"service error: $msg")

  /** Read a single '\n'-terminated line without buffering past it (the
    * Arrow body may follow immediately). */
  def readLine(in: InputStream): String = {
    val buf = new java.io.ByteArrayOutputStream()
    var b = in.read()
    while (b != -1 && b != '\n') { buf.write(b); b = in.read() }
    new String(buf.toByteArray, StandardCharsets.UTF_8)
  }

  def writeLine(out: OutputStream, json: String): Unit = {
    out.write(json.getBytes(StandardCharsets.UTF_8))
    out.write('\n')
    out.flush()
  }

  def parse(line: String): Req = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val v = JsonMethods.parse(line)
    Req(
      (v \ "action").extractOrElse[String](""),
      (v \ "table").extractOrElse[String](""),
      (v \ "since").extractOrElse[Long](0L),
      (v \ "keys").extractOrElse[Seq[String]](Nil),
      (v \ "until").extractOrElse[Long](Long.MaxValue))
  }

  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def field(v: JsonValue): String = v match {
    case JStr(s) => "\"" + esc(s) + "\""
    case JNum(n) => n.toString
    case JBool(b) => b.toString
    case JSeq(xs) => xs.map(field).mkString("[", ",", "]")
  }

  sealed trait JsonValue
  final case class JStr(s: String) extends JsonValue
  final case class JNum(n: Long) extends JsonValue
  final case class JBool(b: Boolean) extends JsonValue
  final case class JSeq(xs: Seq[JsonValue]) extends JsonValue

  import scala.language.implicitConversions
  implicit def str2j(s: String): JsonValue = JStr(s)
  implicit def long2j(n: Long): JsonValue = JNum(n)
  implicit def int2j(n: Int): JsonValue = JNum(n)
  implicit def bool2j(b: Boolean): JsonValue = JBool(b)
  implicit def seq2j(xs: Seq[String]): JsonValue = JSeq(xs.map(JStr.apply))

  def obj(kvs: (String, JsonValue)*): String =
    kvs.map { case (k, v) => "\"" + k + "\":" + field(v) }
      .mkString("{", ",", "}")

  /** json4s response accessors for the client side. */
  final class Resp(line: String) {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    private val v = JsonMethods.parse(line)
    def ok: Boolean = (v \ "ok").extractOrElse[Boolean](false)
    def error: String = (v \ "error").extractOrElse[String]("")
    def code: String = (v \ "code").extractOrElse[String]("")
    def str(k: String): String = (v \ k).extractOrElse[String]("")
    def num(k: String): Long = (v \ k).extractOrElse[Long](0L)
    def bool(k: String): Boolean = (v \ k).extractOrElse[Boolean](false)
    def strs(k: String): Seq[String] = (v \ k).extractOrElse[Seq[String]](Nil)
    def nums(k: String): Seq[Long] = (v \ k).extractOrElse[Seq[Long]](Nil)
    def require(): Resp = {
      if (!ok) throw ServiceError(code, error)
      this
    }
  }

  def schemaOf(json: String): StructType =
    DataType.fromJson(json).asInstanceOf[StructType]
}
