package graft

import graft.ql.Engine

/** One-shot / REPL runner (the reference's CLI + REPL surface,
  * `zikeiretsu/src/bin/main.rs`, `repl/mod.rs`).
  *
  * Usage:
  *   graft.Cli --db <dbDir> "<query>"     one-shot
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

    def run(q: String): Unit =
      try {
        val out = engine.execute(q)
        if (out.nonEmpty) println(out)
      } catch {
        case e: graft.ql.Ast.ParseException => System.err.println(e.getMessage)
        case e: graft.ql.Interpreter.QueryException =>
          System.err.println(e.getMessage)
        case e: IllegalArgumentException => System.err.println(e.getMessage)
      }

    query match {
      case Some(q) => run(q)
      case None =>
        // REPL: accumulate lines until `;`
        print("graft> "); Console.out.flush()
        val buf = new StringBuilder
        for (line <- scala.io.Source.stdin.getLines()) {
          if (line.trim == "exit") { spark.stop(); return }
          buf.append(line).append('\n')
          if (line.contains(";")) {
            run(buf.toString); buf.clear()
            print("graft> "); Console.out.flush()
          }
        }
    }
    spark.stop()
  }
}
