package graft.catalog

/** The storage layer's one crash seam: every rename or job commit that
  * publishes table state reports its label (`table`, `table/<partition
  * spec>` or a pointer file) here right after it commits. Specs scope a
  * hook over a body with [[during]], like `DriverFetch.withCaps`; the
  * scope reaches the threads the body starts (a stream's
  * `foreachBatch` thread) and ends with it. With no hook, a commit
  * reads one thread-local. */
private[graft] object Commits {

  private final class Hook(val f: String => Unit) {
    @volatile var live = true
  }

  private val hook = new scala.util.DynamicVariable[Hook](null)

  def during[T](f: String => Unit)(body: => T): T = {
    val h = new Hook(f)
    try hook.withValue(h)(body) finally h.live = false
  }

  def committed(label: => String): Unit = {
    val h = hook.value
    if (h != null && h.live) h.f(label)
  }
}
