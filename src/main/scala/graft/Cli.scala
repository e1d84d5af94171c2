package graft

import graft.ql.Engine

/** One-shot / REPL runner (the reference's CLI + REPL surface,
  * `zikeiretsu/src/bin/main.rs`, `repl/mod.rs`).
  *
  * Usage:
  *   graft.Cli --db <dbDir> "<query>"     one-shot; exits 1 when the
  *                                        query fails
  *   graft.Cli --db <dbDir>               REPL (reads stdin, `;` terminated,
  *                                        `exit` quits)
  */
object Cli {
  def main(args: Array[String]): Unit = {
    var dbDir = "."
    var query: Option[String] = None
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--db" => dbDir = args(i + 1); i += 2
        case q      => query = Some(q); i += 1
      }
    }
    val spark = GraftSession.builder().appName("graft-cli").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val engine = new Engine(spark, dbDir)
    val ok = query match {
      case Some(q) => run(engine, q)
      case None    => repl(engine, scala.io.Source.stdin.getLines()); true
    }
    spark.stop()
    if (!ok) sys.exit(1)
  }

  /** Runs one query: prints its output, or its error on stderr. False when
    * the query failed. */
  def run(engine: Engine, q: String): Boolean =
    try {
      val out = engine.execute(q)
      if (out.nonEmpty) println(out)
      true
    } catch { case e: Exception =>
      Console.err.println(String.valueOf(e.getMessage))
      false
    }

  /** REPL: accumulates lines until `;`, runs each statement, stops at
    * `exit` or at the end of `lines`. A failed statement does not end it. */
  def repl(engine: Engine, lines: Iterator[String]): Unit = {
    print("graft> "); Console.out.flush()
    val buf = new StringBuilder
    for (line <- lines.takeWhile(_.trim != "exit")) {
      buf.append(line).append('\n')
      if (line.contains(";")) {
        run(engine, buf.toString); buf.clear()
        print("graft> "); Console.out.flush()
      }
    }
  }
}
