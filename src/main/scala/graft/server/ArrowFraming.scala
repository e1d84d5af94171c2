package graft.server

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.{ArrowStreamReader, ArrowStreamWriter}
import org.apache.arrow.vector.types.FloatingPointPrecision
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** DataFrame → Arrow IPC stream encoding for the query server.
  *
  * The reference serves query results as Arrow record batches over Flight
  * gRPC (`arrow_flight_server/do_get_handler.rs:16-53`). Flight itself
  * (gRPC) is not available in this offline build, so the server frames the
  * SAME payload — a standard Arrow IPC stream (schema message + record
  * batches) any Arrow reader decodes — over its TCP protocol: a JSON header
  * line announcing the byte length, then the raw stream. See README for the
  * divergence note.
  *
  * Rows stream through `toLocalIterator` in `batchRows`-sized record
  * batches, capped at `maxRows` like every other driver-side render path
  * ([[graft.ql.Output.maxRenderRows]]).
  */
object ArrowFraming {

  private def arrowType(dt: DataType): ArrowType = dt match {
    case LongType    => new ArrowType.Int(64, true)
    case IntegerType => new ArrowType.Int(32, true)
    case ShortType   => new ArrowType.Int(16, true)
    case ByteType    => new ArrowType.Int(8, true)
    case DoubleType  => new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
    case FloatType   => new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE)
    case StringType  => ArrowType.Utf8.INSTANCE
    case BooleanType => ArrowType.Bool.INSTANCE
    case BinaryType  => ArrowType.Binary.INSTANCE
    case d: DecimalType => new ArrowType.Decimal(d.precision, d.scale, 128)
    case other => throw new IllegalArgumentException(
      s"arrow framing: unsupported column type $other")
  }

  /** Encode (up to `maxRows` of) `df` as an Arrow IPC stream; returns the
    * stream bytes, the row count encoded, and whether rows were dropped at
    * the cap (a truncated result must be distinguishable — same contract
    * as the JSON path's `__truncated__`). */
  def toIpcStream(df: DataFrame, maxRows: Int,
      batchRows: Int = 4096): (Array[Byte], Long, Boolean) = {
    val fields = df.schema.fields.map(f =>
      new Field(f.name, FieldType.nullable(arrowType(f.dataType)), null))
    val schema = new Schema(java.util.Arrays.asList(fields: _*))
    val alloc = new RootAllocator()
    val root = VectorSchemaRoot.create(schema, alloc)
    val bos = new ByteArrayOutputStream()
    val writer = new ArrowStreamWriter(root, null, bos)
    var total = 0L
    var truncated = false
    try {
      writer.start()
      val it = df.toLocalIterator()
      while (it.hasNext && total < maxRows) {
        root.allocateNew()
        var n = 0
        while (it.hasNext && n < batchRows && total < maxRows) {
          val row = it.next()
          var c = 0
          while (c < fields.length) {
            setValue(root.getVector(c), n, if (row.isNullAt(c)) null else row.get(c))
            c += 1
          }
          n += 1
          total += 1
        }
        root.setRowCount(n)
        writer.writeBatch()
      }
      truncated = it.hasNext
      writer.end()
    } finally {
      writer.close(); root.close(); alloc.close()
    }
    (bos.toByteArray, total, truncated)
  }

  private def setValue(v: FieldVector, i: Int, value: Any): Unit =
    if (value == null) v match {
      case x: BaseFixedWidthVector    => x.setNull(i)
      case x: BaseVariableWidthVector => x.setNull(i)
      case other => throw new IllegalArgumentException(
        s"arrow framing: can't null ${other.getClass.getSimpleName}")
    } else (v, value) match {
      case (x: BigIntVector, l: Long)       => x.setSafe(i, l)
      case (x: IntVector, n: Int)           => x.setSafe(i, n)
      case (x: SmallIntVector, n: Short)    => x.setSafe(i, n)
      case (x: TinyIntVector, n: Byte)      => x.setSafe(i, n)
      case (x: Float8Vector, d: Double)     => x.setSafe(i, d)
      case (x: Float4Vector, f: Float)      => x.setSafe(i, f)
      case (x: VarCharVector, s: String)    =>
        x.setSafe(i, s.getBytes("UTF-8"))
      case (x: BitVector, b: Boolean)       => x.setSafe(i, if (b) 1 else 0)
      case (x: VarBinaryVector, b: Array[Byte]) => x.setSafe(i, b)
      case (x: DecimalVector, d: java.math.BigDecimal) => x.setSafe(i, d)
      case (x, other) => throw new IllegalArgumentException(
        s"arrow framing: ${other.getClass.getSimpleName} into ${x.getClass.getSimpleName}")
    }

  /** Read one server response frame from a raw socket stream: the JSON
    * header line (byte-wise — a buffering reader would eat into the binary
    * payload) and, when the header announces `"bytes":M`, exactly M payload
    * bytes. */
  def readFrame(in: java.io.InputStream): (String, Array[Byte]) = {
    val line = new ByteArrayOutputStream()
    var b = in.read()
    while (b != -1 && b != '\n') { line.write(b); b = in.read() }
    val header = new String(line.toByteArray, "UTF-8")
    val payload = """"bytes"\s*:\s*(\d+)""".r.findFirstMatchIn(header) match {
      case Some(g) =>
        val n = g.group(1).toInt
        val buf = new Array[Byte](n)
        var off = 0
        while (off < n) {
          val r = in.read(buf, off, n - off)
          require(r >= 0, "stream closed mid-payload")
          off += r
        }
        buf
      case None => Array.empty[Byte]
    }
    (header, payload)
  }

  /** Decode an Arrow IPC stream → (column names, row-major values); the
    * client/test side of the framing. Arrow `Text` is normalized to
    * `String`. */
  def fromIpcStream(bytes: Array[Byte]): (Seq[String], Seq[Seq[Any]]) = {
    val alloc = new RootAllocator()
    val reader = new ArrowStreamReader(new ByteArrayInputStream(bytes), alloc)
    try {
      val root = reader.getVectorSchemaRoot
      val names = root.getSchema.getFields.asScala.map(_.getName).toSeq
      val rows = ArrayBuffer.empty[Seq[Any]]
      while (reader.loadNextBatch()) {
        var i = 0
        while (i < root.getRowCount) {
          rows += names.indices.map { c =>
            root.getVector(c).getObject(i) match {
              case t: org.apache.arrow.vector.util.Text => t.toString
              case other => other
            }
          }
          i += 1
        }
      }
      (names, rows.toSeq)
    } finally {
      reader.close(); alloc.close()
    }
  }
}
