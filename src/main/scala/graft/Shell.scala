package graft

import graft.sql.{GraftContext, SqlText}

/** CLI frontend (the analog of the reference's `src/cli/`): one-off SQL
  * execution, or an interactive REPL when no SQL argument is given.
  *
  *   scripts/run.sh graft.Shell <dataDir> "<sql>[; <sql>...]"   # one-off
  *   scripts/run.sh graft.Shell <dataDir>                       # REPL
  *
  * One-off mode executes every statement and prints the last statement's
  * result as JSON-lines (the same encoding the HTTP frontend streams).
  *
  * REPL parity with the reference CLI (`src/cli/commands.rs`):
  * statements span lines until a terminating `;` (`SqlText.complete`:
  * outside literals, quoted identifiers and comments); meta-commands execute
  * immediately — `\d` list tables, `\d <name>` describe a table, `\?`
  * help, `\q` quit. Errors print and the loop continues (a typo must
  * never cost the session).
  */
object Shell {

  private val MetaHelp = Seq(
    "\\q       quit graft shell",
    "\\d       list tables",
    "\\d name  describe table",
    "\\?       help")

  /** The REPL loop, IO-injected for tests: reads logical statements from
    * `lines`, writes results/errors to `out`. Returns on EOF or `\q`.
    * `statementTimeoutMs` > 0 arms the same per-statement cancel bound
    * the server frontends use (GRAFT_STATEMENT_TIMEOUT_MS in main). */
  def repl(ctx: GraftContext, lines: Iterator[String],
           out: java.io.PrintStream, prompt: Boolean = false,
           statementTimeoutMs: Long = 0L): Unit = {
    val buf = new StringBuilder
    def show(df: org.apache.spark.sql.DataFrame): Unit =
      df.toJSON.toLocalIterator().forEachRemaining(out.println)
    // per-statement job group + timeout, REPL twin of the server path;
    // a timed-out statement prints its error and the session continues
    def timed[T](sql: String)(f: => T): T =
      graft.server.Statements.run(ctx.spark,
        graft.server.Statements.newGroupId("cli"), sql, statementTimeoutMs)(f)
    // every execution arm shares this guard: a typo, a missing table or
    // a transient failure prints and the loop continues — the invariant
    // is that NOTHING the user types can cost the session
    def guarded(f: => Unit): Unit =
      try f catch { case scala.util.control.NonFatal(e) =>
        out.println(s"error: ${String.valueOf(e.getMessage).linesIterator.take(3).mkString(" ")}")
      }
    if (prompt) out.print("graft> ")
    for (raw <- lines) {
      val line = raw.trim
      if (buf.isEmpty && line.startsWith("\\")) {
        line.split("\\s+", 2) match {
          case Array("\\q", _*) => return
          case Array("\\?") => MetaHelp.foreach(out.println)
          case Array("\\d") => guarded {
            show(ctx.executeRead(
              "SELECT table_schema, table_name FROM information_schema.tables " +
              "ORDER BY table_schema, table_name"))
          }
          case Array("\\d", name) => guarded {
            show(ctx.executeRead(
              "SELECT column_name, data_type, is_nullable FROM information_schema.columns " +
              s"WHERE table_name = ${SqlText.quote(name)} ORDER BY ordinal_position"))
          }
          case _ => out.println(s"unknown command: $line (\\? for help)")
        }
      } else {
        buf.append(raw).append('\n')
        if (SqlText.complete(buf.result())) {
          val sql = buf.result().trim.stripSuffix(";")
          buf.clear()
          if (sql.nonEmpty) guarded(timed(sql)(show(ctx.locked(ctx.executeAll(sql)))))
        }
      }
      if (prompt) out.print(if (buf.isEmpty) "graft> " else "....>  ")
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Shell <dataDir> [sql]")
    val spark = graft.Sessions.build(graft.Sessions.Serve)
    val ctx = new GraftContext(spark, args(0))
    // same runaway-statement bound the server frontends honor
    val stmtTimeout = sys.env.get("GRAFT_STATEMENT_TIMEOUT_MS").map(_.trim.toLong).getOrElse(0L)
    if (args.length >= 2) {
      // stream partition-by-partition like the REPL and the HTTP frontend
      // — a large one-off result must not buffer whole on the driver
      graft.server.Statements.run(spark,
        graft.server.Statements.newGroupId("cli"), args(1), stmtTimeout) {
        val result = ctx.executeAll(args.drop(1).mkString(" "))
        result.toJSON.toLocalIterator().forEachRemaining(println(_))
      }
    } else {
      repl(ctx, scala.io.Source.stdin.getLines(), System.out, prompt = true,
        statementTimeoutMs = stmtTimeout)
    }
    spark.stop()
  }
}
