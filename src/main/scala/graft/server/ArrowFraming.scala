package graft.server

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.channels.Channels

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.{ArrowStreamReader, ArrowStreamWriter,
  WriteChannel}
import org.apache.arrow.vector.ipc.message.{IpcOption, MessageSerializer}
import org.apache.spark.sql.DataFrame

import graft.ql.Output

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
  * The record batches are the ones the tasks encoded
  * ([[graft.ql.Output.arrowBatches]]), capped at `maxRows` like every other
  * driver-side answer ([[graft.ql.Output.maxRenderRows]]).
  */
object ArrowFraming {

  /** Encode (up to `maxRows` of) `df` as an Arrow IPC stream; returns the
    * stream bytes, the row count encoded, and whether rows were dropped at
    * the cap (a truncated result must be distinguishable — same contract
    * as the JSON path's `__truncated__`). */
  def toIpcStream(df: DataFrame, maxRows: Int): (Array[Byte], Long, Boolean) = {
    val b = Output.arrowBatches(df, maxRows)
    val bos = new ByteArrayOutputStream()
    val out = new WriteChannel(Channels.newChannel(bos))
    MessageSerializer.serialize(out, b.arrowSchema)
    b.messages.foreach(m => out.write(m))
    ArrowStreamWriter.writeEndOfStream(out, IpcOption.DEFAULT)
    (bos.toByteArray, b.rows, b.truncated)
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
