package perfbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.functions.col

import graft.service.ArrowCodec

/** Calls into each layer's public functions on the workload's own table,
  * after its timed loop and checks, so the traced run can time layers the
  * loop only reaches through the Flight service. Reads come first; the
  * writes at the end change the table, which nothing checks afterwards. */
object Probes {
  def run(ctx: Ctx, wl: Workload): Unit = {
    val c = ctx.connector
    val tr = ctx.tracer
    val t = wl.probeTable
    val k = wl.probeKeys.head
    def rep(n: Int)(f: => Any): Unit = (1 to n).foreach(_ => f)

    rep(5)(tr.span("service.getFlightInfo")(ctx.client.getFlightInfo(t)))
    rep(5)(tr.span("warehouse.loadTable")(c.loadTable(t)))

    val table = c.query(t)
    val sample = table.limit(8000).collect().toSeq
    val sdf = ctx.df(sample, table.schema)
    val buf = new ByteArrayOutputStream()
    rep(3) { buf.reset(); tr.span("service.arrowEncode")(ArrowCodec.write(sdf, buf)) }
    val bytes = buf.toByteArray
    rep(3)(tr.span("service.arrowDecode")(ArrowCodec.read(ctx.spark, new ByteArrayInputStream(bytes)).cleanup()))
    val krows = sample.size / 1000.0
    ctx.layer("service.arrow_encode_ms_per_krow") = Report.median(tr.named("service.arrowEncode").map(_.durNs / 1e6)) / krows
    ctx.layer("service.arrow_decode_ms_per_krow") = Report.median(tr.named("service.arrowDecode").map(_.durNs / 1e6)) / krows
    ctx.layer("service.wire_bytes_per_row") = bytes.length.toDouble / sample.size

    val keys = sample.map(_.getAs[Long](k)).distinct
    val picks = Seq.fill(3)(keys(ctx.rnd.nextInt(keys.size)))
    picks.foreach { v =>
      ctx.sql(c, s"SELECT * FROM $t WHERE $k = $v")
      tr.span("warehouse.readWhere")(
        c.loadTable(t).readWhere(k, Some(v), Some(v)).filter(col(k) === v).collect())
    }
    val visible = c.loadTable(t).log.dataFiles().size
    val scanned = c.loadTable(t).readWhere(k, Some(picks.head), Some(picks.head)).inputFiles.length
    ctx.layer("warehouse.scan_file_ratio") = scanned.toDouble / math.max(1, visible)

    val keyed = sample.groupBy(r => wl.probeKeys.map(r.getAs[Any](_))).values.map(_.head).toSeq
    rep(2)(tr.span("warehouse.upsert")(
      c.upsert(t, ctx.df(ctx.rnd.shuffle(keyed).take(200), table.schema), wl.probeKeys)))
    picks.take(2).foreach(v => tr.span("warehouse.delete")(c.delete(t, col(k) === v)))
    val files = (0 until 3).map { i =>
      tr.span("warehouse.insert")(c.insert(t, ctx.df(sample.slice(i * 500, i * 500 + 500), table.schema)))
      c.loadTable(t).log.head.map(_.addedFiles.size).getOrElse(0).toDouble
    }
    ctx.layer("warehouse.files_per_append") = files.sum / files.size
  }
}
