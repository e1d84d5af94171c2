package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkBus, SparkContext}
import org.apache.spark.scheduler._

/** One timed call into a layer; `parent` is 0 for the outermost span of an
  * operation (a request, a push, one operator run). Times are nanoTime. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** A Spark job, attributed to the innermost span that submitted it. */
final case class JobRec(jobId: Int, span: Long, startMs: Long, endMs: Long,
    stages: Seq[Int]) {
  def ms: Double = (endMs - startMs).toDouble
}

/** Per-stage task figures summed from task-end events. */
final class StageRec {
  var tasks = 0
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** Spans recorded around the benchmark's own calls into the program, kept in
  * memory and written once the run ends, plus a listener that attributes
  * Spark jobs, stages and tasks to the span that was open when each job was
  * submitted (through a thread-local Spark property). Off unless a traced
  * phase turns it on, so untraced phases pay nothing but one volatile read.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._
  @volatile var enabled = false
  private val ids = new AtomicLong(1)
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Seq[Int])]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.getAndIncrement()
      val stack = open.get()
      open.set(id :: stack)
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans.add(Span(id, stack.headOption.getOrElse(0L), name, t0, t1))
        open.set(stack)
        sc.setLocalProperty(SpanProp, stack.headOption.map(_.toString).orNull)
      }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      .map(_.toLong).getOrElse(0L)
    jobStarts.put(e.jobId, (span, e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (span, t0, st) =>
      jobs.add(JobRec(e.jobId, span, t0, e.time, st))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val rec = stages.computeIfAbsent(e.stageId, _ => new StageRec)
    rec.synchronized {
      rec.tasks += 1
      rec.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        rec.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        rec.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Everything recorded so far, once the listener bus has delivered every
    * event posted before this call. */
  def snapshot(): Recorded = {
    SparkBus.drain(sc)
    Recorded(spans.asScala.toVector, jobs.asScala.toVector,
      stages.asScala.toMap)
  }

  /** Drop what earlier phases recorded, keeping ids unique. */
  def reset(): Unit = {
    SparkBus.drain(sc)
    spans.clear(); jobs.clear(); stages.clear()
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** What one traced phase recorded, with the per-operation roll-ups the
  * per-layer metrics are built from. */
final case class Recorded(spans: Vector[Span], jobs: Vector[JobRec],
    stages: Map[Int, StageRec]) {
  private lazy val byId: Map[Long, Span] = spans.map(s => s.id -> s).toMap
  lazy val jobsBySpan: Map[Long, Vector[JobRec]] = jobs.groupBy(_.span)

  def named(name: String): Vector[Span] = spans.filter(_.name == name)
  def roots(prefix: String): Vector[Span] =
    spans.filter(s => s.parent == 0 && s.name.startsWith(prefix))

  /** Jobs submitted inside `s` or any span below it. */
  def jobsUnder(s: Span): Vector[JobRec] =
    jobs.filter { j =>
      var cur = byId.get(j.span)
      var hit = false
      while (!hit && cur.isDefined) {
        hit = cur.get.id == s.id
        cur = if (cur.get.parent == 0) None else byId.get(cur.get.parent)
      }
      hit
    }

  /** Span time not spent in the Spark jobs it submitted itself. */
  def selfOfJobs(s: Span): Double =
    math.max(0.0, s.ms - jobsBySpan.getOrElse(s.id, Vector.empty).map(_.ms).sum)

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] =
    js.flatMap(_.stages).distinct.flatMap(stages.get)

  /** Share of each root's wall time covered by its direct children, and the
    * uncovered remainder in ms, summed over the given roots. */
  def coverage(rootSpans: Seq[Span]): (Double, Double) = {
    val kids = spans.groupBy(_.parent)
    val wall = rootSpans.map(_.ms).sum
    val covered = rootSpans.map(r => kids.getOrElse(r.id, Vector.empty)
      .map(_.ms).sum).sum
    (if (wall > 0) covered / wall else 1.0, wall - covered)
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("{\"spans\":[")
    spans.sortBy(_.startNs).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(',')
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    }
    sb.append("],\"jobs\":[")
    jobs.sortBy(_.jobId).zipWithIndex.foreach { case (j, i) =>
      if (i > 0) sb.append(',')
      sb.append(s"""{"job":${j.jobId},"span":${j.span},"start_ms":${j.startMs},""" +
        s""""end_ms":${j.endMs},"stages":[${j.stages.mkString(",")}]}""")
    }
    sb.append("]}")
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Task-time skew: the largest stage ratio of max to median task time, over
  * stages with at least two tasks (1.0 when none has). */
object Skew {
  def of(stages: Seq[StageRec]): Double = {
    val ratios = stages.filter(_.taskMs.size >= 2).map { st =>
      val ts = st.taskMs.sorted
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      if (med > 0) ts.last / med else 1.0
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}
