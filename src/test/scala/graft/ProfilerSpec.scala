package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{broadcast, row_number}
import org.scalatest.funsuite.AnyFunSuite

/** `Profiler` on tiny in-memory frames: work is billed to the phase that
  * ran it, and the digest reads the plan the write executed.
  */
class ProfilerSpec extends AnyFunSuite {
  // a session of its own: the join tests set session confs
  private val spark = SparkTestSession.spark.newSession()
  private val profiler = new Profiler(spark)
  import spark.implicits._

  private def run(entry: String)(build: => DataFrame): Profiler.Record =
    profiler.profile(entry)(build)(_.write.format("noop").mode("overwrite").save())

  private def joined: DataFrame =
    spark.range(2000).join(spark.range(500).withColumnRenamed("id", "k"),
      $"id" === $"k")

  test("a forced shuffle join digests as SMJ over exchanges; a hint as BHJ") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val smj = try run("smj")(joined).plan.get
      finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert(smj.smj === 1 && smj.shuffles >= 1 && smj.bhj === 0, smj)
    val bhj = run("bhj")(spark.range(2000)
      .join(broadcast(spark.range(500).withColumnRenamed("id", "k")), $"id" === $"k"))
      .plan.get
    assert(bhj.bhj === 1 && bhj.smj === 0, bhj)
    assert(bhj.wscg >= 1, bhj)
  }

  test("an eager collect in the entry bills build; the write bills exec") {
    val lazyRec = run("lazy")(joined)
    val eager = run("eager") {
      val n = spark.range(100).collect().length
      assert(n === 100)
      joined
    }
    assert(lazyRec.build.jobs === 0, lazyRec.build.json)
    assert(eager.build.jobs >= 1 && eager.build.tasks >= 1, eager.build.json)
    assert(lazyRec.exec.jobs >= 1, lazyRec.exec.json)
    assert(eager.exec.jobs === lazyRec.exec.jobs)
    assert(eager.exec.shuffleWriteBytes === lazyRec.exec.shuffleWriteBytes)
    assert(eager.seconds === eager.buildS + eager.execS)
  }

  test("an entry that runs no job is billed none") {
    spark.range(10).collect() // unscoped work before it
    val rec = profiler.profile("idle")(spark.range(10).toDF())(_ => ())
    assert(rec.build.jobs === 0 && rec.exec.jobs === 0)
    assert(rec.build.tasks === 0 && rec.exec.tasks === 0)
  }

  test("an unpartitioned Window is flagged over a whole table, not over limit(k)") {
    val w = Window.orderBy("id")
    val limited = run("limited")(spark.range(1000).limit(5)
      .withColumn("rn", row_number().over(w))).plan.get
    assert(limited.unboundedWindows === 0, limited)
    val whole = run("whole")(spark.range(1000)
      .withColumn("rn", row_number().over(w))).plan.get
    assert(whole.unboundedWindows === 1, whole)
  }
}
