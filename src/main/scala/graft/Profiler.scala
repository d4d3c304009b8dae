package graft

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, TimeoutException}

import org.apache.spark.graftbus.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{GlobalLimitExec, QueryExecution, SparkPlan, TakeOrderedAndProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Where one run of an entry spent its time, recorded on every run.
  *
  * `profile(entry)` times two phases: `build`, while the entry function
  * returns its DataFrame (eager collects and session-store fills
  * included), and `exec`, while the caller runs it. The phase is the
  * SparkContext local property `ScopeKey` ("<entry>/<phase>"); a
  * `SparkListener` reads it from each job's and stage's properties and
  * bills jobs, stages, tasks, shuffle, spill, input/output bytes and
  * task GC time to it. The threads a query starts for broadcasts and
  * subqueries carry the property over.
  *
  * The plan shape comes from the last query `spark` reports done
  * (`QueryExecutionListener.onSuccess`), which is the `exec` phase's:
  * the AQE final plan that actually ran, not a re-plan of the frame.
  *
  * Listener events arrive asynchronously, so a record is read only
  * after the bus has delivered everything queued, which happens after
  * the timed window closes. One caller thread at a time.
  */
final class Profiler(spark: SparkSession) {
  import Profiler._

  private val sc = spark.sparkContext
  // written by the listener thread, read after `settle()`
  private val tallies = new ConcurrentHashMap[String, Tally]()
  private val stageScope = new ConcurrentHashMap[Int, String]()
  @volatile private var lastDigest: Option[Digest] = None

  private def tally(scope: String): Tally =
    tallies.computeIfAbsent(scope, _ => new Tally)

  private def scopeOf(props: Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(ScopeKey)))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      scopeOf(e.properties).foreach(s => tally(s).jobs += 1)

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      scopeOf(e.properties).foreach { s =>
        stageScope.put(e.stageInfo.stageId, s)
        tally(s).stages += 1
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageScope.get(e.stageId)).map(tally).foreach { t =>
        t.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          t.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
          t.inputBytes += m.inputMetrics.bytesRead
          t.outputBytes += m.outputMetrics.bytesWritten
          t.gcMs += m.jvmGCTime
        }
      }
  }

  // digested here, so no finished plan (and the broadcasts and shuffles
  // it references) outlives its query
  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      lastDigest = Some(Digest.of(qe.executedPlan))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(planListener)

  /** Deliver every queued listener event. The bus's own bound (10 s)
    * gives up on a flooded bus; the record is then partial, not lost.
    */
  private def settle(): Unit =
    try Bus.drain(sc) catch { case _: TimeoutException => () }

  /** One profiled run: `build` returns the entry's frame and `exec`
    * runs it. `build_s` + `exec_s` is the whole timed window. Throws
    * what either phase throws.
    */
  def profile(entry: String)(build: => DataFrame)(exec: DataFrame => Unit): Record = {
    val (buildScope, execScope) = (s"$entry/build", s"$entry/exec")
    val scopes = Set(buildScope, execScope)
    scopes.foreach(tallies.remove)
    lastDigest = None
    sc.setLocalProperty(ScopeKey, buildScope)
    val t0 = System.nanoTime()
    val (buildS, execS) =
      try {
        val df = build
        val t1 = System.nanoTime()
        sc.setLocalProperty(ScopeKey, execScope)
        exec(df)
        ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
      } finally {
        sc.setLocalProperty(ScopeKey, null)
        settle()
        stageScope.values.removeIf(scopes.contains(_))
      }
    def take(scope: String) = Option(tallies.remove(scope)).getOrElse(new Tally)
    Record(buildS, execS, take(buildScope), take(execScope), lastDigest)
  }
}

object Profiler {
  /** The SparkContext local property naming the billed entry and phase. */
  val ScopeKey = "profiler.scope"

  private def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  /** Spark work billed to one phase. */
  final class Tally {
    var jobs, stages, tasks, shuffleReadBytes, shuffleWriteBytes, spillBytes,
      inputBytes, outputBytes, gcMs = 0L

    def json: String = obj("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "shuffle_read_bytes" -> shuffleReadBytes,
      "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
      "input_bytes" -> inputBytes, "output_bytes" -> outputBytes, "gc_ms" -> gcMs)
  }

  /** Operator counts of an executed plan, AQE stages and subqueries
    * included. `unboundedWindows` counts Windows with no partition spec
    * (all rows in one task) whose input does not pass through a limit.
    */
  final case class Digest(shuffles: Int, reusedExchanges: Int, bhj: Int,
      smj: Int, bnlj: Int, cartesian: Int, wscg: Int, unboundedWindows: Int) {
    def json: String = obj("shuffles" -> shuffles,
      "reused_exchanges" -> reusedExchanges, "bhj" -> bhj, "smj" -> smj,
      "bnlj" -> bnlj, "cartesian" -> cartesian, "wscg" -> wscg,
      "unbounded_windows" -> unboundedWindows)
  }

  object Digest extends AdaptiveSparkPlanHelper {
    def of(plan: SparkPlan): Digest = {
      val nodes = collectWithSubqueries(plan) { case p => p }
      def n(pf: PartialFunction[SparkPlan, Unit]) = nodes.count(pf.isDefinedAt)
      Digest(
        shuffles = n { case _: ShuffleExchangeLike => },
        reusedExchanges = n { case _: ReusedExchangeExec => },
        bhj = n { case _: BroadcastHashJoinExec => },
        smj = n { case _: SortMergeJoinExec => },
        bnlj = n { case _: BroadcastNestedLoopJoinExec => },
        cartesian = n { case _: CartesianProductExec => },
        wscg = n { case _: WholeStageCodegenExec => },
        unboundedWindows = n {
          case w: WindowExec if w.partitionSpec.isEmpty && !limited(w.child) => })
    }

    // down the single-child chain, through AQE stages, to a limit
    private def limited(p: SparkPlan): Boolean = p match {
      case _: GlobalLimitExec | _: TakeOrderedAndProjectExec => true
      case _ => allChildren(p) match {
        case Seq(c) => limited(c)
        case _ => false
      }
    }
  }

  /** One profiled run; `plan` digests the last query `spark` reported
    * done during it (the write's), None when there was none.
    */
  final case class Record(buildS: Double, execS: Double, build: Tally,
      exec: Tally, plan: Option[Digest]) {
    def seconds: Double = buildS + execS

    def json: String = obj("build_s" -> f"$buildS%.6f", "exec_s" -> f"$execS%.6f",
      "build" -> build.json, "exec" -> exec.json,
      "plan" -> plan.fold("null")(_.json))
  }
}
