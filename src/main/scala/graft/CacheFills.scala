package graft

/** Ledger of shared-cache FILL costs — the bench's self-adjudication
  * for the reps=1 regime (the 10× full-suite pass): a per-(session,
  * dataset) cache (a k-means fit, a persisted index build, the frozen
  * merge table) is populated by whichever entry touches it FIRST, so
  * that entry's recorded time carries the fill while every later
  * toucher reads it for free. Rather than chasing each such entry with
  * a manual steady-state probe, every `SessionStore.fill` body
  * reports its wall time here and `Bench` emits the ledger as a
  * `fills` field — the record then separates "what the entry costs"
  * from "what the cache cost to build" by subtraction, per cache, per
  * dataset.
  *
  * Accounting notes: a fill is recorded once per (cache, dataset) per
  * Spark application (`SessionStore` runs a body once per key; a body
  * that throws records nothing and its retry bills again); `timed`
  * sums, so fills of one (cache, dataset) by two applications add up.
  * The ledger is process-global and append-only during a run; `Bench`
  * snapshots it after the last rep, so warm-up fills (keyed by the
  * warm-up SF) appear under their own dataset key and are
  * distinguishable from measured-run fills.
  */
object CacheFills {

  private val fills =
    new java.util.concurrent.ConcurrentHashMap[String, Double]()

  /** Run `body` (a cache's fill) and bill its wall time to
    * `cache@dataset`.
    */
  def timed[T](cache: String, dataset: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    fills.merge(s"$cache@$dataset", (System.nanoTime() - t0) / 1e9,
      (a, b) => a + b)
    r
  }

  /** All fills recorded so far, (cache@dataset → seconds). */
  def snapshot: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    fills.asScala.toMap
  }
}
