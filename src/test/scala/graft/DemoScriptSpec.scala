package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions
import graft.pipeline._
import graft.serve.SecureShare

/** The ENTIRE reference demo script — read from `dp_demo.sql` at test
  * time, not re-typed — replayed statement by statement, in file order,
  * through `DemoScriptSession`. Where DemoReplaySpec exercises the same
  * flow through the repo's own API, this spec proves the last fidelity
  * step: the file the reference ships is itself executable here, all 92
  * statements, with the script's golden counts (rescaled to the fixture
  * window per FIXTURES.md §A) asserted at the script's own checkpoints.
  *
  * The one parameterized deviation is disclosed in DemoScript's doc:
  * `call stream_data('01/10/2020', …)` targets the reference's citibike
  * calendar, so the session substitutes the fixture's 1995 window for
  * that call's arguments (statement text unchanged). The scheduler
  * pulse ("wait a minute" in the demo narration) runs after the
  * monitoring dashboard statement, inside the warehouse-resize window
  * exactly like the reference flow.
  */
class DemoScriptSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private val scriptPath = "/root/reference/dp_demo.sql"

  /** A reference script's text; a missing mount fails the test with one
    * line naming it (the replay cannot run without the shipped file).
    */
  private def referenceScript(path: java.nio.file.Path): String = {
    if (!Files.isRegularFile(path))
      fail(s"reference script $path is missing: mount the reference's " +
        s"dp_setup.sql and dp_demo.sql under ${path.getParent}")
    new String(Files.readAllBytes(path), "UTF-8")
  }

  private def asAccount[T](acct: String)(body: => T): T = {
    val prior = spark.conf.getOption(GraftFunctions.AccountConfKey)
    spark.conf.set(GraftFunctions.AccountConfKey, acct)
    try body
    finally prior match {
      case Some(p) => spark.conf.set(GraftFunctions.AccountConfKey, p)
      case None => spark.conf.unset(GraftFunctions.AccountConfKey)
    }
  }

  test("the statement splitter handles comment/quote/dollar precedence") {
    // an apostrophe inside a line comment must not open a string
    // (dp_setup.sql:27 `-- DON'T DO IT AGAIN`), so the banner after it
    // is still stripped
    assert(DemoScript.splitStatements(
      "select 1; -- DON'T do it\n/* banner; with ; semis */\nselect 2;")
      === Seq("select 1", "select 2"))
    // `--` and `;` inside a string literal are content, not comment/end
    assert(DemoScript.splitStatements("select 'a--b;c' x;")
      === Seq("select 'a--b;c' x"))
    // a dollar-quoted procedure body keeps its semicolons, quotes and
    // comment-lookalikes intact (dp_setup.sql's JavaScript body)
    val proc = "create procedure p() as $$ var s = \"x\"; // not'sql\n" +
      "snowflake.execute({sqlText: 'select 1;'}); $$"
    assert(DemoScript.splitStatements(proc + ";\nselect 3;")
      === Seq(proc, "select 3"))
    // unterminated block comment is an error, not silent data loss
    intercept[IllegalArgumentException] {
      DemoScript.splitStatements("select 1; /* oops")
    }
  }

  test("dp_demo.sql replays verbatim, all statements, with golden counts") {
    val demoPath = Paths.get(scriptPath)
    val setupText = referenceScript(demoPath.resolveSibling("dp_setup.sql"))
    val text = referenceScript(demoPath)
    val stmts = DemoScript.splitStatements(text)
    assert(stmts.length === 92, s"splitter found ${stmts.length} statements")

    val root = Files.createTempDirectory("graft_demo_script").toString
    val paths = PipelinePaths(root)
    val clock = new ManualClock(
      java.sql.Timestamp.valueOf("1995-02-01 00:00:00").getTime)

    // a previous run's leftovers, so the script's reset has real work
    val stale = new Pipeline(spark, paths, clock, taskIntervalSec = 60)
    Producer.streamData(spark, sf, paths.stage, "01/02/1995", "01/02/1995")
    stale.runAvailableNow()
    assert(stale.trips().count() > 0, "stale run must leave rows to reset")

    val session = new DemoScriptSession(spark, paths, sf, clock,
      streamDataWindow = Some(("01/02/1995", "01/08/1995")))
    def norm(s: String) = s.toLowerCase.replaceAll("\\s+", " ").trim

    // ---- dp_setup.sql first: the environment DDL replays verbatim on
    // the same session (all 25 statements, including the reference's
    // own `create database it not exists` typo and the $$-quoted
    // JavaScript procedure bodies)
    val setupStmts = DemoScript.splitStatements(setupText)
    assert(setupStmts.length === 25,
      s"setup splitter found ${setupStmts.length} statements")
    val setupResults = setupStmts.map(s => (s, session.execute(s)))
    // desc integration reads back the integration's recorded properties
    val integ = setupResults.collect {
      case (s, Some(df)) if norm(s).startsWith("desc integration") => df
    }.head.collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(integ("type") === "external_stage")
    assert(integ("storage_aws_role_arn").contains("YOURAWSROLE"))
    // show stages lists the script's stage
    assert(setupResults.collect {
      case (s, Some(df)) if norm(s) == "show stages" => df
    }.head.select("name").collect().map(_.getString(0)).toSeq
      === Seq("snowflake_demo_stage"))
    // the replayed task DAG: scheduled stream-gated pushes, purge AFTER
    // push_trips — the ordering the pipeline's fused batch implements
    assert(session.taskDef("push_trips").get.schedule === Some("1 minute"))
    assert(session.taskDef("push_trips").get.when.get.contains("new_trips"))
    assert(session.taskDef("purge_files").get.after === Some("push_trips"))
    // the reference's push_trips shred field list IS the engine's trips
    // schema, name for name in order (create-table validation has
    // already checked the declared DDL — this pins the task body too)
    val shredFields = "v:(\\w+)::".r
      .findAllMatchIn(session.taskDef("push_trips").get.definition)
      .map(_.group(1)).toSeq
    assert(shredFields === Transform.tripsSchema.fieldNames.toSeq)

    // golden expectations, rescaled to the fixture window (FIXTURES.md §A)
    val src = CitibikeSource.trips(spark, sf)
    val srcCount = src.count()
    def window1 = src.filter(
      to_date(col("starttime")).between("1995-01-02", "1995-01-08"))
    val expTrips = window1.count() // the 51,767 analogue
    val expProgs = window1.select("program_id").distinct().count() // 61
    val expStations = window1.select(col("start_station_id").as("id"))
      .union(window1.select(col("end_station_id").as("id")))
      .distinct().count() // 930
    def expFor(prefix: String): Long = session.pipe.trips()
      .join(session.pipe.programs()
        .filter(col("program_name").startsWith(prefix)), "program_id")
      .count()
    lazy val nychaExp = expFor("NATION_1") // the 2,883 analogue
    lazy val jchaExp = expFor("NATION_2")  // the 641 analogue

    var nDays = -1L               // from the call statement's return
    val seen = scala.collection.mutable.Map.empty[String, Int]
    var checkpoints = 0

    val priorParallelism = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      stmts.foreach { stmt =>
        val n = norm(stmt)
        val nth = seen.getOrElse(n, 0) + 1
        seen(n) = nth
        val res: Option[DataFrame] = session.execute(stmt)
        def df = res.getOrElse(fail(s"expected a result for: $stmt"))

        n match {
          case s if s.startsWith("select count(*) from snowflake_demo_resources") =>
            assert(df.head.getLong(0) === srcCount); checkpoints += 1
          case s if s.startsWith("select * from snowflake_demo_resources") =>
            assert(df.count() === 5); checkpoints += 1
          case s if s.startsWith("list @") =>
            // occurrences 1-2 precede production (stage reset-empty);
            // the 3rd lists the produced day files (dp_demo.sql:118)
            if (nth <= 2) assert(df.count() === 0)
            else assert(df.count() === nDays && nDays > 0)
            checkpoints += 1
          case "show pipes" =>
            assert(df.select("name").collect().map(_.getString(0)).toSeq
              === Seq("trips_pipe")); checkpoints += 1
          case s if s.startsWith("select system$pipe_status") =>
            assert(df.head.getString(0).contains("\"pendingFileCount\":0"))
            checkpoints += 1
          case "show streams" =>
            assert(df.select("name").collect().map(_.getString(0)).toSet
              === Set("new_trips", "new_stations", "new_programs"))
            checkpoints += 1
          case "show procedures" =>
            assert(df.select("name").collect().map(_.getString(0)).toSet
              === Set("stream_data", "purge_files")); checkpoints += 1
          case s if s.startsWith("describe procedure") =>
            assert(df.count() === 1); checkpoints += 1
          case "show tables" =>
            val names = df.select("name").collect().map(_.getString(0)).toSet
            if (nth == 1) assert(names === Set("trips_raw"))
            else assert(names === Set("trips", "stations", "programs"))
            checkpoints += 1
          case "show tasks" =>
            val states = df.select("name", "state").collect()
              .map(r => (r.getString(0), r.getString(1))).toMap
            assert(states.keySet === Set("push_trips", "push_programs",
              "push_stations", "purge_files"))
            assert(states.values.forall(_ == "suspended")) // pre-resume
            checkpoints += 1
          case s if s.startsWith("describe table") =>
            assert(df.count() > 0)
            if (s.endsWith("trips_raw"))
              assert(df.select("name").collect().map(_.getString(0)).toSeq
                === Seq("v"))
            checkpoints += 1
          case s if s.startsWith("describe task") =>
            assert(df.head.getAs[String]("state") === "suspended")
            checkpoints += 1
          case s if s.startsWith("call ") =>
            val msg = df.head.getString(0)
            nDays = msg.split(" ")(0).toLong
            assert(nDays === 7, s"one file set per fixture day: $msg")
            checkpoints += 1
          case s if s.startsWith("select distinct 's3://snowflake.demo/'") =>
            assert(df.count() === nDays); checkpoints += 1
          case s if s.startsWith("select $1 from @") =>
            assert(df.count() === expTrips); checkpoints += 1
          case s if s.contains("time_to_next_pulse") =>
            // the monitoring dashboard, pre-pulse: everything pending
            val want = session.pipe.dashboard()
            assert(df.columns.toSeq === want.columns.toSeq)
            val (g, w) = (df.head, want.head)
            df.columns.foreach { c =>
              assert(g.getAs[Any](c) === w.getAs[Any](c), s"dashboard $c")
            }
            assert(g.getAs[Long]("pending_file_count") === nDays)
            assert(g.getAs[Long]("trips_raw") === 0L)
            checkpoints += 1
            // "let it flow": the pulse runs INSIDE the resize-to-large
            // window (the next statement resizes back)
            session.pulse()
          case "select count(*) from snowflake_demo.raw.trips_raw" =>
            assert(df.head.getLong(0) === expTrips); checkpoints += 1
          case s if s.startsWith("select * from snowflake_demo.raw.trips_raw limit") =>
            assert(df.count() === 10); checkpoints += 1
          case s if s.startsWith("select count(*) from snowflake_demo.raw.new_") =>
            assert(df.head.getLong(0) === 0L, s"stream not drained: $s")
            checkpoints += 1
          case "select count(*) from snowflake_demo.modelled.trips" =>
            assert(df.head.getLong(0) === expTrips); checkpoints += 1
          case "select count(*) from snowflake_demo.modelled.programs" =>
            assert(df.head.getLong(0) === expProgs); checkpoints += 1
          case "select count(*) from snowflake_demo.modelled.stations" =>
            assert(df.head.getLong(0) === expStations); checkpoints += 1
          case s if s.contains("state <> 'scheduled'") =>
            val states = df.select("state").collect().map(_.getString(0))
            assert(states.nonEmpty && states.forall(_ != "SCHEDULED"))
            checkpoints += 1
          case s if s.contains("next_run") =>
            assert(df.count() > 0); checkpoints += 1
          case s if s.startsWith("select count (*) from table(information_schema.copy_history") =>
            assert(df.head.getLong(0) === nDays); checkpoints += 1
          case s if s.startsWith("select top 16") =>
            assert(df.count() === math.min(16L, nDays))
            assert(df.queryExecution.executedPlan.toString
              .contains("TakeOrderedAndProject"))
            checkpoints += 1
          case "select * from snowflake_demo.modelled.programs" =>
            assert(df.count() === expProgs); checkpoints += 1
          case "select * from snowflake_demo.modelled.stations" =>
            assert(df.count() === expStations); checkpoints += 1
          case "select * from snowflake_demo.modelled.trips" =>
            assert(df.count() === expTrips); checkpoints += 1
          case s if s.startsWith("show shares like") =>
            assert(df.select("name").collect().map(_.getString(0))
              .contains("snowflake_demo")); checkpoints += 1
          case "desc share snowflake_demo" =>
            assert(df.collect().map(r =>
              (r.getString(0), r.getString(1), r.getString(2))).toSet
              === Set(
                ("DATABASE", "snowflake_demo", "USAGE"),
                ("SCHEMA", "snowflake_demo.modelled", "USAGE"),
                ("VIEW", "trips_secure_vw", "SELECT")))
            checkpoints += 1
          case "select * from snowflake_demo.modelled.security" =>
            assert(df.count() === 3); checkpoints += 1
          case "select count(*) from trips_secure_vw" =>
            val exp = if (nth == 1) nychaExp else jchaExp
            assert(df.head.getLong(0) === exp && exp > 0)
            checkpoints += 1
          case s if s.contains("\"num trips\"") =>
            val (prefix, acct, exp) =
              if (nth == 1) ("NATION_1", "ACCT_NYCHA", nychaExp)
              else ("NATION_2", "ACCT_JCHA", jchaExp)
            assert(df.columns.toSeq ===
              Seq("program_name", "acct", "Num Trips"))
            val rows = df.collect()
            assert(rows.map(_.getLong(2)).sum === exp)
            assert(rows.forall(_.getString(0).startsWith(prefix)))
            assert(rows.map(_.getString(1)).toSet === Set(acct))
            checkpoints += 1
          case s if s.startsWith("revoke select on view") =>
            // the consumer loses access the moment the grant is gone
            val share = session.currentShare.get
            asAccount("ACCT_NYCHA") {
              intercept[SecurityException] {
                SecureShare.consumerTable(spark, share, "trips_secure_vw")
              }
            }
            checkpoints += 1
          case s if s.startsWith("grant select on view") && nth == 2 =>
            // …and regains it on re-grant (dp_demo.sql:290)
            val share = session.currentShare.get
            asAccount("ACCT_NYCHA") {
              assert(SecureShare.consumerTable(spark, share, "trips_secure_vw")
                .count() === nychaExp)
            }
            checkpoints += 1
          case _ => ()
        }
      }

      // final state: the closing rm left the stage empty, both resizes
      // were recorded, and the governed view still serves the provider
      assert(Stage.list(spark, paths.stage).count() === 0)
      assert(session.pipe.pipeStatus().contains("\"pendingFileCount\":0"))
      val wh = spark.read.parquet(s"$root/ops/wh_history")
        .select("name").collect().map(_.getString(0)).toSet
      assert(wh === Set("alter_warehouse_size_large",
        "alter_warehouse_size_small"))
      assert(checkpoints === 51, s"only $checkpoints checkpoints fired")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", priorParallelism)
      spark.conf.unset(GraftFunctions.AccountConfKey)
    }
  }
}
