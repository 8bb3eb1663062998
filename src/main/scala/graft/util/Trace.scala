package graft.util

/** Stage wall-time lines for the crawl loop and the frontier store, on
  * when the `GRAFT_TRACE` environment variable is set. Lines go to stderr:
  * stdout carries the single JSON result line of the mains.
  */
object Trace {
  val enabled: Boolean = sys.env.contains("GRAFT_TRACE")

  def line(msg: => String): Unit = if (enabled) System.err.println(s"[trace] $msg")

  /** Runs `f` and, when tracing, prints `label` with its wall time. */
  def span[T](label: => String)(f: => T): T =
    if (!enabled) f
    else {
      val t0 = System.nanoTime()
      val r = f
      line(f"$label ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }
}
