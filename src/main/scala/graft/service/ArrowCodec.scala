package graft.service

import java.io.{InputStream, OutputStream}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.{ArrowStreamReader, ArrowStreamWriter}
import org.apache.arrow.vector.types.{DateUnit, FloatingPointPrecision, TimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.types._

/** DataFrame ⇄ Arrow IPC stream, over the public arrow-vector API.
  *
  * The service data plane (reference: Flight `do_get`/`do_put`,
  * `icerunner.py:272-295`) speaks Arrow IPC; no Flight/gRPC jar exists
  * on the offline classpath (SURVEY.md §7.1), so framing is ours but the
  * payload encoding is standard Arrow streaming format.
  *
  * Write path streams in bounded batches — the whole table is never
  * materialized on the driver (the reference materializes twice per
  * read, `icerunner.py:278-279, 306`).
  *
  * Type surface = the reference's declared conversion table
  * (`icerunner.py:112-131`) plus the widths its generator actually emits
  * (int8/16/32, which the reference lossily stringifies — SURVEY.md §1.2
  * treats that as a bug, so here they stay typed) plus binary, DATE
  * (Arrow date32) and wall-clock TimestampNTZ (Arrow timestamp with no
  * timezone — what the driver testdata's orders dates decode as).
  */
object ArrowCodec {

  // One allocator per JVM; arrow-vector needs the --add-opens already
  // configured in build.sbt.
  lazy val allocator: RootAllocator = new RootAllocator()

  def toArrowField(f: StructField): Field = {
    val t: ArrowType = f.dataType match {
      case LongType => new ArrowType.Int(64, true)
      case IntegerType => new ArrowType.Int(32, true)
      case ShortType => new ArrowType.Int(16, true)
      case ByteType => new ArrowType.Int(8, true)
      case DoubleType => new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
      case FloatType => new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE)
      case StringType => ArrowType.Utf8.INSTANCE
      case BooleanType => ArrowType.Bool.INSTANCE
      case TimestampType => new ArrowType.Timestamp(TimeUnit.MICROSECOND, "UTC")
      // session-time-agnostic wall-clock timestamp: Arrow timestamp with
      // NO timezone (the Arrow spec's NTZ encoding)
      case TimestampNTZType => new ArrowType.Timestamp(TimeUnit.MICROSECOND, null)
      case DateType => new ArrowType.Date(DateUnit.DAY)
      case BinaryType => ArrowType.Binary.INSTANCE
      case other => throw new IllegalArgumentException(
        s"unsupported service type for field ${f.name}: $other")
    }
    new Field(f.name, new FieldType(f.nullable, t, null), java.util.List.of())
  }

  def toArrowSchema(s: StructType): Schema =
    new Schema(s.fields.map(toArrowField).toSeq.asJava)

  def fromArrowField(f: Field): StructField = {
    val dt: DataType = f.getType match {
      case i: ArrowType.Int if i.getBitWidth == 64 => LongType
      case i: ArrowType.Int if i.getBitWidth == 32 => IntegerType
      case i: ArrowType.Int if i.getBitWidth == 16 => ShortType
      case i: ArrowType.Int if i.getBitWidth == 8 => ByteType
      case fp: ArrowType.FloatingPoint
          if fp.getPrecision == FloatingPointPrecision.DOUBLE => DoubleType
      case fp: ArrowType.FloatingPoint
          if fp.getPrecision == FloatingPointPrecision.SINGLE => FloatType
      case _: ArrowType.Utf8 => StringType
      case _: ArrowType.Bool => BooleanType
      // unit-guarded at the SCHEMA layer: the value readers below only
      // speak micro timestamps and day dates, so a ms/sec/ns timestamp
      // or date64 from a foreign producer must be rejected up front
      // with a clear field-level error, not mid-body per-row
      case t: ArrowType.Timestamp
          if t.getTimezone == null && t.getUnit == TimeUnit.MICROSECOND =>
        TimestampNTZType
      case t: ArrowType.Timestamp if t.getUnit == TimeUnit.MICROSECOND =>
        TimestampType
      case dd: ArrowType.Date if dd.getUnit == DateUnit.DAY => DateType
      case _: ArrowType.Binary => BinaryType
      case other => throw new IllegalArgumentException(
        s"unsupported arrow type for field ${f.getName}: $other")
    }
    StructField(f.getName, dt, f.isNullable)
  }

  def fromArrowSchema(s: Schema): StructType =
    StructType(s.getFields.asScala.map(fromArrowField).toArray)

  private def setValue(v: FieldVector, i: Int, value: Any): Unit = value match {
    case null => v match {
      case x: BaseFixedWidthVector => x.setNull(i)
      case x: BaseVariableWidthVector => x.setNull(i)
      case other => throw new IllegalArgumentException(
        s"cannot set null on ${other.getClass}")
    }
    case x: Long => v.asInstanceOf[BigIntVector].setSafe(i, x)
    case x: Int => v.asInstanceOf[IntVector].setSafe(i, x)
    case x: Short => v.asInstanceOf[SmallIntVector].setSafe(i, x)
    case x: Byte => v.asInstanceOf[TinyIntVector].setSafe(i, x)
    case x: Double => v.asInstanceOf[Float8Vector].setSafe(i, x)
    case x: Float => v.asInstanceOf[Float4Vector].setSafe(i, x)
    case x: String =>
      v.asInstanceOf[VarCharVector].setSafe(i, x.getBytes("UTF-8"))
    case x: Boolean => v.asInstanceOf[BitVector].setSafe(i, if (x) 1 else 0)
    case x: Timestamp =>
      val micros = x.getTime * 1000L + (x.getNanos % 1000000L) / 1000L
      v.asInstanceOf[TimeStampMicroTZVector].setSafe(i, micros)
    case x: java.time.LocalDateTime =>
      val micros = x.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
        x.getNano / 1000L
      v.asInstanceOf[TimeStampMicroVector].setSafe(i, micros)
    case x: java.sql.Date =>
      v.asInstanceOf[DateDayVector].setSafe(i, x.toLocalDate.toEpochDay.toInt)
    case x: java.time.LocalDate =>
      v.asInstanceOf[DateDayVector].setSafe(i, x.toEpochDay.toInt)
    case x: Array[Byte] => v.asInstanceOf[VarBinaryVector].setSafe(i, x)
    case other => throw new IllegalArgumentException(
      s"unsupported value ${other.getClass} for ${v.getName}")
  }

  private def getValue(v: FieldVector, i: Int): Any = {
    if (v.isNull(i)) return null
    v match {
      case x: BigIntVector => x.get(i)
      case x: IntVector => x.get(i)
      case x: SmallIntVector => x.get(i)
      case x: TinyIntVector => x.get(i)
      case x: Float8Vector => x.get(i)
      case x: Float4Vector => x.get(i)
      case x: VarCharVector => new String(x.get(i), "UTF-8")
      case x: BitVector => x.get(i) == 1
      case x: TimeStampMicroTZVector =>
        val micros = x.get(i)
        val ts = new Timestamp(Math.floorDiv(micros, 1000L))
        ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
        ts
      case x: TimeStampMicroVector =>
        val micros = x.get(i)
        java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(micros, 1000000L),
          (Math.floorMod(micros, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC)
      case x: DateDayVector => java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(x.get(i).toLong))
      case x: VarBinaryVector => x.get(i)
      case other => throw new IllegalArgumentException(
        s"unsupported vector ${other.getClass}")
    }
  }

  /** Stream a DataFrame as one Arrow IPC stream in bounded row batches.
    * Driver memory is O(batchRows), not O(table).
    *
    * A body whose rows already sit on the driver (a local relation, e.g.
    * `createDataFrame(rows)`) is encoded straight from its plan and runs
    * no Spark job: `toLocalIterator` would run one job per slice,
    * min(rows, cores) of them. Every other plan streams through
    * `toLocalIterator`, so table scans stay bounded. */
  def write(df: DataFrame, out: OutputStream, batchRows: Int = 4096): Long = {
    val schema = df.schema
    val root = VectorSchemaRoot.create(toArrowSchema(schema), allocator)
    val writer = new ArrowStreamWriter(root, null, out)
    var total = 0L
    try {
      writer.start()
      val it: Iterator[Row] = df.queryExecution.executedPlan match {
        case local: LocalTableScanExec =>
          val toRow = CatalystTypeConverters.createToScalaConverter(schema)
          // row by row from the relation itself: O(batchRows) extra
          // memory, no UnsafeRow copy of the whole body
          local.rows.iterator.map(r => toRow(r).asInstanceOf[Row])
        case _ => df.toLocalIterator().asScala
      }
      val vectors = root.getFieldVectors.asScala.toArray
      while (it.hasNext) {
        var n = 0
        while (it.hasNext && n < batchRows) {
          val row = it.next()
          var c = 0
          while (c < vectors.length) {
            setValue(vectors(c), n, row.get(c))
            c += 1
          }
          n += 1
        }
        root.setRowCount(n)
        writer.writeBatch()
        total += n
      }
      writer.end()
      total
    } finally {
      root.close()
    }
  }

  /** Rows the ingest path buffers on the driver before spilling a chunk
    * to staged parquet. The memory bound for `do_put`/mirror bodies of
    * any size. */
  val DefaultChunkRows: Int = 65536

  /** One ingested Arrow body. Small bodies (under one chunk) stay a
    * driver-local relation; larger bodies live as staged parquet chunks
    * under `spillDir`, so driver heap is O(chunkRows) regardless of body
    * size (the reference drains every batch into one in-memory table —
    * `icerunner.py:287-291`). Call [[cleanup]] once the body has been
    * consumed (appended / counted). */
  final case class Body(df: DataFrame, rows: Long, maxBufferedRows: Long,
      spillDir: Option[java.nio.file.Path]) {
    def cleanup(): Unit = spillDir.foreach(deleteSpill)
  }

  private def deleteSpill(d: java.nio.file.Path): Unit =
    if (java.nio.file.Files.isDirectory(d)) {
      val walk = java.nio.file.Files.walk(d)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }

  /** Read one Arrow IPC stream with bounded driver memory: buffer at
    * most `chunkRows` rows, spilling each full chunk to a staged parquet
    * directory and returning a DataFrame over the chunks. A body that
    * fits in one chunk never touches disk. */
  def read(spark: SparkSession, in: InputStream,
      chunkRows: Int = DefaultChunkRows): Body = {
    val reader = new ArrowStreamReader(in, allocator)
    var spillDir: Option[java.nio.file.Path] = None
    try {
      val root = reader.getVectorSchemaRoot
      val schema = fromArrowSchema(root.getSchema)
      val buf = new scala.collection.mutable.ArrayBuffer[Row]()
      var total = 0L
      var maxBuffered = 0L
      def flush(): Unit = if (buf.nonEmpty) {
        val dir = spillDir.getOrElse {
          val d = java.nio.file.Files.createTempDirectory("graft-ingest-")
          spillDir = Some(d); d
        }
        // one task/file per chunk: a chunk is bounded at chunkRows
        // (~a few MB), but a local relation otherwise parallelizes over
        // min(rows, defaultParallelism) slices — at local[32] that is
        // 32 near-empty write tasks and 32 tiny files PER CHUNK, whose
        // fixed per-task/per-file costs dominate every ingest commit
        // and bloat downstream reads (file listing, one scan partition
        // per file)
        spark.createDataFrame(buf.asJava, schema).coalesce(1)
          .write.mode("append").parquet(dir.toString)
        buf.clear()
      }
      while (reader.loadNextBatch()) {
        val vectors = root.getFieldVectors.asScala.toArray
        val n = root.getRowCount
        var i = 0
        while (i < n) {
          buf += Row.fromSeq(vectors.toIndexedSeq.map(v => getValue(v, i)))
          i += 1
        }
        total += n
        maxBuffered = math.max(maxBuffered, buf.length.toLong)
        if (buf.length >= chunkRows) flush()
      }
      val df = spillDir match {
        // same single-slice rule as flush(): the body is bounded at
        // chunkRows here, and consumers append/commit it — 32 slices
        // would fan every downstream commit into 32 near-empty tasks
        // and files
        case None => spark.createDataFrame(buf.toSeq.asJava, schema).coalesce(1)
        case Some(d) =>
          flush() // tail chunk
          spark.read.schema(schema).parquet(d.toString)
      }
      Body(df, total, maxBuffered, spillDir)
    } catch {
      case e: Throwable =>
        // a mid-stream failure would otherwise orphan the spill dir (the
        // Body with its cleanup handle is never returned)
        spillDir.foreach(deleteSpill)
        throw e
    } finally {
      // close(false): release vector memory but leave the underlying
      // stream open — closing a Socket's InputStream closes the whole
      // socket, killing the connection before the response is written.
      reader.close(false)
    }
  }
}
