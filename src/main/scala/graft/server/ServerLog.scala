package graft.server

/** Failures a server cannot answer to any client (background sweeps,
  * accept loops, shutdown flushes): written to stderr with their stack
  * instead of being swallowed, and warnings about work a statement left
  * behind. Fatal errors are never routed here. */
private[server] object ServerLog {
  def failure(what: String, e: Throwable): Unit = System.err.synchronized {
    System.err.println(s"graft: $what failed")
    e.printStackTrace()
  }

  /** A condition the server recovered from but an operator should see. */
  def warn(msg: String): Unit = System.err.println(s"graft: $msg")
}
