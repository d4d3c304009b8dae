package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run: set-up, then the workload's timed loop, then the
  * untimed output checks. Writes a JSON run record (raw samples, spans,
  * check results, host record) to `--out`; `perfbench/run.py` turns it
  * into metrics.
  *
  * Arguments: --workload backfill_trickle|query_mix --seed N
  * --seconds S --trace 0|1 --data <tables dir> --work <scratch root>
  * --out <record path> --cpus N.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: String, out: String, cpus: Int)

  /** One timed operation: a pulse, a serving query or a query entry. */
  final case class Op(kind: String, ms: Double, ok: Boolean, traced: Boolean,
      detail: String = "")

  /** What a workload hands back to the record. */
  final class Result {
    val ops = mutable.ArrayBuffer.empty[Op]
    val setupS = mutable.ArrayBuffer.empty[Double]
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    val fields = mutable.LinkedHashMap.empty[String, Any]

    def check(name: String, ok: Boolean, detail: => String = ""): Unit =
      checks += ((name, ok, if (ok) "" else detail))
  }

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv("data"), kv("work"), kv("out"),
      kv.getOrElse("cpus", "4").toInt)
  }

  /** The fixed pure-CPU canary `graft.Bench` uses (range → hash → xor),
    * timed after a GC: a constant of the host, so a drift between the
    * start and end samples exposes contention during the run.
    */
  def canary(spark: SparkSession): Double = {
    System.gc()
    val t0 = System.nanoTime()
    spark.range(50000000L).selectExpr("bit_xor(xxhash64(id)) AS s")
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark.sparkContext, o.trace)
    tracer.setTracing(o.trace)
    canary(spark) // warms the canary plan's codegen
    val canary0 = canary(spark)

    val res = new Result
    mark(res, "setup_start")
    val rng = new scala.util.Random(o.seed)
    o.workload match {
      case "backfill_trickle" => new PipelineWorkload(spark, tracer, o, rng, res).run()
      case "query_mix" => new MixWorkload(spark, tracer, o, rng, res).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    mark(res, "checks_end")
    tracer.drain()
    val canary1 = canary(spark)
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace,
      "host" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "cpus" -> o.cpus,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "canary_s" -> Seq(canary0, canary1),
        "session_start_s" -> sessionS),
      "setup_s" -> res.setupS.toSeq,
      "ops" -> res.ops.toSeq.map(op => Map("kind" -> op.kind, "ms" -> op.ms,
        "ok" -> op.ok, "traced" -> op.traced, "detail" -> op.detail)),
      "checks" -> res.checks.toSeq.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "spans" -> tracer.export())
    record ++= res.fields
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(o.out), mapper.writeValueAsString(record))
    spark.stop()
  }

  // ---- helpers shared by the workloads --------------------------------

  def nowMs(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Records the JVM's uptime at a named point of the run (the record's
    * `uptime_s`), to show where a run's wall time goes.
    */
  def uptimeS(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  def mark(res: Result, name: String): Unit = {
    val marks = res.fields.getOrElseUpdate("uptime_s", mutable.LinkedHashMap.empty[String, Double])
      .asInstanceOf[mutable.LinkedHashMap[String, Double]]
    marks(name) = uptimeS()
  }

  /** Bytes and count of the regular, non-hidden files under `dir`
    * (checksum side files of the local file system are skipped).
    */
  def dirUsage(dir: String): (Long, Int) = {
    val root = new File(dir)
    if (!root.exists()) return (0L, 0)
    val files = Files.walk(root.toPath).iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .filterNot(p => p.getFileName.toString.startsWith("."))
      .toSeq
    (files.map(p => Files.size(p)).sum, files.size)
  }

  private var gcAtStart = 0L
  private var cpuAtStart = 0L
  private var hostAtStart = Seq.empty[Long]
  private var wallAtStart = 0L

  private def processCpuNanos(): Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => 0L
    }

  /** The host's cumulative CPU ticks (user, nice, system, idle, iowait,
    * irq, softirq, steal) from /proc/stat; empty where there is none.
    */
  private def hostTicks(): Seq[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong).toSeq
      finally src.close()
    } catch { case _: Throwable => Seq.empty }

  /** Mark the end of the timed part: records the JVM's GC time and peak
    * heap over it, and where its wall time went on the host (this
    * process's CPU seconds; the host's busy, iowait and steal shares).
    */
  def endTimedPart(res: Result): Unit = {
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    res.fields("jvm") = Map(
      "gc_s" -> (Tracer.gcMillis() - gcAtStart) / 1000.0,
      "peak_heap_mb" -> heap.map(_.getPeakUsage.getUsed).sum / 1048576.0)
    res.fields("timed_part") = hostUsage()
    mark(res, "timed_end")
  }

  private def hostUsage(): Map[String, Any] = {
    val wall = (System.nanoTime() - wallAtStart) / 1e9
    val ticks = hostTicks()
    val base = Map("wall_s" -> wall, "process_cpu_s" -> (processCpuNanos() - cpuAtStart) / 1e9)
    if (ticks.size < 8 || hostAtStart.size < 8) base
    else {
      val d = ticks.zip(hostAtStart).map { case (a, b) => (a - b).toDouble }
      val total = d.sum
      base ++ Map("host_busy" -> (d(0) + d(1) + d(2) + d(5) + d(6)) / total,
        "host_iowait" -> d(4) / total, "host_steal" -> d(7) / total)
    }
  }

  /** Mark the end of set-up and the start of the timed part. */
  def startTimedPart(res: Result): Unit = {
    mark(res, "timed_start")
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    gcAtStart = Tracer.gcMillis()
    cpuAtStart = processCpuNanos()
    hostAtStart = hostTicks()
    wallAtStart = System.nanoTime()
  }
}
