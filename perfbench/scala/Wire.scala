package perfbench

import java.io.BufferedInputStream
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.server.ArrowFraming

/** A response as the client received it: the header or JSON line, and the
  * Arrow payload when the header announced one. */
final case class Resp(line: String, payload: Array[Byte]) {
  def bytes: Long = line.length + 1L + payload.length
}

/** One loopback TCP connection to the server. Every call reads its
  * response to the last byte before it returns. */
final class Conn(port: Int) extends AutoCloseable {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val in = new BufferedInputStream(sock.getInputStream, 1 << 16)
  private val out = sock.getOutputStream

  def call(line: String): Resp = {
    out.write((line + "\n").getBytes(UTF_8))
    out.flush()
    val (header, payload) = ArrowFraming.readFrame(in)
    Resp(header, payload)
  }

  def close(): Unit = sock.close()
}

/** Closed-loop load: `threads` workers each issue their next operation only
  * after the previous one completed, until the deadline. */
object Load {
  val json = new ObjectMapper()

  def parse(line: String): JsonNode = json.readTree(line)

  /** Runs `op(worker)` repeatedly on each worker until the `deadline`
    * (nanoTime), then waits for the operations in flight. */
  def closed(deadline: Long)(threads: Int)(op: Int => Unit): Unit = {
    val workers = (0 until threads).map { w =>
      new Thread(() => while (System.nanoTime() < deadline) op(w), s"perfbench-load-$w")
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
  }

  /** Runs `op(worker)` on each worker until `n` operations have started
    * in all, then waits for them. */
  def count(n: Int)(threads: Int)(op: Int => Unit): Unit = {
    val left = new java.util.concurrent.atomic.AtomicInteger(n)
    val workers = (0 until threads).map { w =>
      new Thread(() => while (left.getAndDecrement() > 0) op(w), s"perfbench-load-$w")
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
  }

  /** The last two figures agree within `tolerance`. */
  def stable(figures: Seq[Double], tolerance: Double): Boolean =
    figures.size >= 2 && {
      val Seq(prev, last) = figures.takeRight(2)
      prev > 0 && math.abs(last - prev) / prev <= tolerance
    }

  /** Ends a warm-up on a stability test: `window` runs until its last two
    * figures agree within `tolerance`, at least `minWindows` and at most
    * `maxWindows` times. Returns the seconds spent and every figure. */
  def warmUp(minWindows: Int, maxWindows: Int, tolerance: Double)(
      window: () => Double): (Double, Seq[Double]) = {
    val t0 = System.nanoTime()
    var figures = Vector.empty[Double]
    while (figures.size < maxWindows && !(figures.size >= minWindows && stable(figures, tolerance)))
      figures :+= window()
    ((System.nanoTime() - t0) / 1e9, figures)
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}
