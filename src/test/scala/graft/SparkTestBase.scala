package graft

import org.apache.spark.sql.SparkSession

object SparkTestBase {
  /** The shared test session: the [[GraftSession]] every graft main runs
    * on, pinned to 4 cores so plans and partition counts do not depend on
    * the host. */
  lazy val spark: SparkSession = {
    val s = GraftSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", tempDir("graft-warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `body` and count the Spark jobs it submits (a listener around
    * the block, read once the listener bus has drained). Jobs submitted
    * by other threads meanwhile count too, so specs run it alone. */
  def countJobs[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.ListenerBusDrain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.toString
  }

  /** Lowercase hex md5 — the reference implementation of the md5-of-id
    * sample-ordering contract the sampling/admission specs pin (must match
    * Spark's `md5` and DuckDB's `md5`). */
  def md5hex(s: String): String = java.security.MessageDigest
    .getInstance("MD5").digest(s.getBytes("UTF-8"))
    .map(b => f"$b%02x").mkString
}
