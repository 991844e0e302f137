package graft.extract

/** Cooperative per-document wall-clock budget (R4's timeout half —
  * reference analog: the 120 s pebble `ProcessPool.schedule(timeout)`,
  * split_htmls_to_pages.py:210). Spark tasks can't be killed per-row, so
  * the hot loops (tokenizer, DOM walk, postprocess, fuzzy alignment)
  * call [[tick]]; a page that exhausts its budget throws [[Exhausted]],
  * which the extractor turns into an `ok=false, error="timeout"` ROW —
  * never a task failure. Without this, one pathological page straggles
  * its task forever on the first 100 TB crawl batch.
  *
  * Thread-confined by design: one document runs on one task thread, so
  * the deadline lives in a ThreadLocal and [[tick]] costs a ThreadLocal
  * read + counter bump, checking the clock only every 1024 ticks.
  */
object DocBudget {

  /** Budget expiry. Stackless: thrown per pathological row, and the trace
    * (deep inside some loop) carries no information the error row needs. */
  final class Exhausted extends RuntimeException("timeout") {
    override def fillInStackTrace(): Throwable = this
  }

  // slot 0: deadline nanos (Long.MaxValue = unlimited); slot 1: tick count
  private val state = new ThreadLocal[Array[Long]] {
    override def initialValue(): Array[Long] = Array(Long.MaxValue, 0L)
  }

  /** Arm the budget for the current document. `timeoutMillis` 0 disarms;
    * negative values expire immediately (test hook for deterministic
    * exhaustion regardless of host speed). */
  def begin(timeoutMillis: Long): Unit = {
    val a = state.get()
    a(0) = if (timeoutMillis == 0L) Long.MaxValue
           else System.nanoTime() + timeoutMillis * 1000000L
    a(1) = 0L
  }

  /** Disarm — MUST run (finally) when the document finishes, or a stale
    * expired deadline would poison unrelated work reusing the thread. */
  def clear(): Unit = state.get()(0) = Long.MaxValue

  /** The calling thread's budget, for a loop that ticks it many times:
    * `tick(current())` once per document saves the per-tick
    * ThreadLocal read (a probing map lookup on busy Spark task threads). */
  private[graft] def current(): Array[Long] = state.get()

  /** Hot-loop checkpoint: cheap enough for per-token/per-node call sites. */
  def tick(): Unit = tick(state.get())

  /** [[tick]] on the budget [[current]] returned on this thread. */
  private[graft] def tick(a: Array[Long]): Unit = {
    a(1) += 1
    if ((a(1) & 0x3FFL) == 0L && a(0) != Long.MaxValue && System.nanoTime() > a(0))
      throw new Exhausted
  }
}
