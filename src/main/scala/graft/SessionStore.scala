package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** The one home of session-scoped derived state: a value filled once per
  * (applicationId, name, key) and read by every later caller — a fitted
  * codebook, a persisted index dir, a memoized load. Values are held
  * strongly for the application's lifetime (a checkpointed frame stays
  * in the block manager); the key's dataset dir is assumed immutable
  * for that lifetime, so a mutable source must key by a content
  * fingerprint or `invalidate` after each write.
  *
  * The map only ever stores a per-key lazy holder; the fill runs outside
  * the map's bin lock, so a long Spark job never blocks an unrelated key
  * and a fill may itself read another fill of the store. A fill that
  * throws leaves no entry and the next call retries it.
  */
object SessionStore {

  private final class Holder[T](body: => T) { lazy val value: T = body }

  private val entries = new ConcurrentHashMap[(String, String, String), Holder[_]]()

  def memo[T](s: SparkSession, name: String, key: String)(body: => T): T = {
    val k = (s.sparkContext.applicationId, name, key)
    val h = entries.computeIfAbsent(k, _ => new Holder(body)).asInstanceOf[Holder[T]]
    try h.value
    catch { case e: Throwable => entries.remove(k, h); throw e }
  }

  /** `memo`, with the fill's wall time billed to the `name@key` ledger. */
  def fill[T](s: SparkSession, name: String, key: String)(body: => T): T =
    memo(s, name, key)(CacheFills.timed(name, key)(body))

  /** `fill` of an on-disk store: `body` writes into a fresh `graft_name*`
    * scratch dir (removed at JVM exit) and returns the path to serve.
    */
  def dir(s: SparkSession, name: String, key: String)(body: String => String): String =
    fill(s, name, key)(body(Artifacts.tempArtifactDir(s"graft_$name")))

  /** Drop one entry, so the next call refills it. */
  def invalidate(s: SparkSession, name: String, key: String): Unit = {
    entries.remove((s.sparkContext.applicationId, name, key)); ()
  }
}
