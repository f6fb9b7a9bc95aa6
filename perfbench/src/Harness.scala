package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, StandardCopyOption}
import java.sql.{DriverManager, SQLException}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{col, lit, xxhash64}

import graft.etl.{Ingest, Main, Runner}

/** Spark counters of one job. */
final class JobCounters(val span: String, val start: Long) {
  @volatile var end = 0L
  val stages, tasks, taskMs, shuffleWrite, shuffleRead, input, spill, gcMs = new AtomicLong
}

/** Records every job with the span named by the local property
  * [[SpanListener.Key]] current on the thread that submitted it, and adds
  * up the stages and tasks it runs. Spark copies local properties into the
  * threads it starts for broadcasts and subqueries, so their jobs land in
  * the span that caused them. */
final class SpanListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobCounters]()
  private val stageJob = new ConcurrentHashMap[Int, JobCounters]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanListener.Key)))
      .getOrElse(SpanListener.Unattributed)
    val job = new JobCounters(span, e.time)
    jobs.put(e.jobId, job)
    e.stageIds.foreach(stageJob.put(_, job))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(_.stages.incrementAndGet())
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { c =>
      c.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs.addAndGet(m.executorRunTime)
        c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c.input.addAndGet(m.inputMetrics.bytesRead)
        c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.gcMs.addAndGet(m.jvmGCTime)
      }
    }
}

object SpanListener {
  val Key = "perfbench.span"
  val Unattributed = "unattributed"
}

/** Follows what `graft.etl.Runner` logs on `graft.pipeline`. The appender
  * runs on the logging thread, which is the thread that submits the
  * stage's jobs: each `stage=<name>` line is passed to `onStage` as it is
  * logged, and the `summary` line's counts are kept. */
final class StageLog(onStage: String => Unit)
    extends AbstractAppender("perfbench-stages", null, null, true, Property.EMPTY_ARRAY) {
  private val StageLine = """\] stage=(\w+)""".r
  private val SummaryLine = """\] summary input=(\d+) clean=(\d+) rejected=(\d+)""".r
  @volatile var summary: Map[String, Any] = Map.empty

  override def append(e: LogEvent): Unit = {
    val msg = e.getMessage.getFormattedMessage
    StageLine.findFirstMatchIn(msg).foreach(m => onStage(m.group(1)))
    SummaryLine.findFirstMatchIn(msg).foreach { m =>
      summary = Map("summary_input" -> m.group(1).toLong,
        "summary_clean" -> m.group(2).toLong, "summary_rejected" -> m.group(3).toLong)
    }
  }

  /** Attached to the `graft.pipeline` logger that log4j2.properties
    * declares at INFO. */
  def install(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    start()
    ctx.getConfiguration.getLoggerConfig("graft.pipeline").addAppender(this, null, null)
    ctx.updateLoggers()
  }
}

/** One benchmark run inside one JVM. Writes a JSON record that
  * `perfbench/run.py` checks and turns into metrics.
  *
  * Usage: `perfbench.Harness <workload> <seed> <seconds> <trace 0|1>
  * <nproc> <dataDir> <runDir>`.
  */
object Harness {

  /** queries_floor: 16 short queries where builder, planning and job
    * launch carry most of the cost. Names are `SparkEntry.queries` keys. */
  val FloorMix: Seq[String] = Seq(
    "pipeline_clean", "pipeline_rejected", "pipeline_summary",
    "pipeline_reason_counts", "pipeline_upsert_merge",
    "pipeline_load_verification",
    "q1_lineitem_agg", "q4_priority_exists", "q12_priority_lines",
    "q14_promo_revenue", "q19_disjunctive", "q22_idle_customers",
    "join_left_orders", "window_running_sum", "mv_rewrite_daily",
    "fn_collation_distinct")

  /** etl ops made before anything is measured; see NOTES.md. */
  val WarmOps = 3

  /** A pipeline call still running after this long is hung: one takes
    * 2-22 s on 4 cores. */
  val HangS = 45

  val CleanTable = "sales_transactions"
  val RejectTable = "rejected_rows"

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, nprocS, dataDir, runDir) = args
    val seed = seedS.toLong
    val nproc = nprocS.toInt
    require(Set("etl_runner", "etl_load", "queries_floor")(workload), s"unknown workload $workload")

    val t0 = System.nanoTime()
    // Built the way graft.etl.Main builds its session, with this run's own
    // scratch directory.
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .getOrCreate()
    graft.Ctx.prep(spark)
    val sessionS = secs(t0)

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> (traceS == "1"),
      "session_s" -> sessionS)
    val run = new Run(spark, seed, secondsS.toDouble, traceS == "1", dataDir, runDir, out)
    if (workload == "queries_floor") run.queries(FloorMix)
    else run.etl(shipped = workload == "etl_load")

    out("peak_rss_mb") = peakRssMb()
    out("provenance") = Map(
      "spark_version" -> spark.version,
      "master" -> spark.sparkContext.master,
      "nproc" -> nproc,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jvm" -> System.getProperty("java.vm.version"),
      "spark_conf" -> spark.sparkContext.getConf.getAll.toMap,
      "sql_conf" -> spark.conf.getAll)
    if (!run.hung) spark.stop()
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(runDir, "result.json"), out)
    // Stuck writer threads would keep the JVM, and Spark's shutdown hook,
    // from ending.
    if (run.hung) Runtime.getRuntime.halt(0)
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(new File("/proc/self/status").toPath).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  def errorText(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${e.getClass.getName}: ${e.getMessage}".take(400) +
      (if (root ne e) s" / root ${root.getClass.getName}: ${root.getMessage}".take(400) else "")
  }
}

final class Run(spark: SparkSession, seed: Long, seconds: Double, trace: Boolean,
    dataDir: String, runDir: String, out: mutable.Map[String, Any]) {
  import Harness._

  private val sc = spark.sparkContext

  // ---------------------------------------------------------------- spans

  /** Registered only for the traced op, so untimed and timed ops run
    * without it. */
  private val listener = new SpanListener
  private val spanMs = mutable.LinkedHashMap[String, Double]()
  private var openSpan: Option[(String, Long)] = None

  /** Ends the open span, if any, and opens `next`: jobs submitted from this
    * thread until the next switch carry its name. */
  private def switchSpan(next: Option[String]): Unit = {
    val now = System.nanoTime()
    openSpan.foreach { case (n, t0) => spanMs(n) = spanMs.getOrElse(n, 0.0) + (now - t0) / 1e6 }
    openSpan = next.map(_ -> now)
    sc.setLocalProperty(SpanListener.Key, next.orNull)
  }

  /** Time `body` as span `name`. A pipeline stage line logged inside it
    * opens the span `<prefix>.<stage>` in its place. */
  private def span[T](name: String)(body: => T): T = {
    switchSpan(Some(name))
    try body finally switchSpan(None)
  }

  private val stageLog = new StageLog(stage =>
    openSpan.foreach { case (n, _) => switchSpan(Some(n.takeWhile(_ != '.') + "." + stage)) })

  /** Wall and Spark counters of every span, once the listener has caught up.
    * `job_list` holds the span's jobs in the order they were submitted. */
  private def spanRecord(): Map[String, Any] = {
    Bus.flush(sc)
    val byJob = listener.jobs.asScala.toSeq.sortBy(_._1).map(_._2)
    val names = (spanMs.keys ++ byJob.map(_.span)).toSeq.distinct
    names.map { n =>
      val js = byJob.filter(_.span == n)
      def sum(f: JobCounters => AtomicLong) = js.map(f(_).get).sum
      n -> Map("ms" -> spanMs.getOrElse(n, 0.0), "jobs" -> js.size,
        "job_ms" -> js.map(j => j.end - j.start).sum,
        "stages" -> sum(_.stages), "tasks" -> sum(_.tasks), "task_ms" -> sum(_.taskMs),
        "shuffle_write_bytes" -> sum(_.shuffleWrite), "shuffle_read_bytes" -> sum(_.shuffleRead),
        "input_bytes" -> sum(_.input), "spill_bytes" -> sum(_.spill), "gc_ms" -> sum(_.gcMs),
        "job_list" -> js.map(j => Map("ms" -> (j.end - j.start), "tasks" -> j.tasks.get,
          "task_ms" -> j.taskMs.get)))
    }.toMap
  }

  // ---------------------------------------------------------------- etl

  private var dbCounter = 0

  /** Set when a pipeline call has not returned after [[HangS]] seconds.
    * Its tasks are then stuck (Derby's writers have been seen deadlocked
    * inside the database), holding task slots and locks, so the run makes
    * no further calls. */
  @volatile var hung = false

  /** A fresh, uniquely named in-memory Derby database. */
  private def newDb(): String = {
    dbCounter += 1
    s"perfbench_${seed}_$dbCounter"
  }
  private def url(db: String) = s"jdbc:derby:memory:$db;create=true"
  /** Drops the database; a drop that fails after a failed call is left
    * at that: the call's failure is already recorded. */
  private def dropDb(db: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true").close()
    catch { case _: SQLException => () }

  private def rowCount(db: String, table: String): Long = {
    val c = DriverManager.getConnection(url(db))
    try {
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next(); rs.getLong(1)
    } finally c.close()
  }

  /** Waits until no task runs. When a job fails, Spark marks its other
    * tasks killed without interrupting them, so they can still be writing
    * when the error reaches the caller; the next op must not overlap them. */
  private def awaitIdle(): Unit = {
    val t0 = System.nanoTime()
    Bus.flush(sc)
    while (sc.statusTracker.getExecutorInfos.exists(_.numRunningTasks > 0) && secs(t0) < 60)
      Thread.sleep(20)
  }

  /** One pipeline call, timed. A traced call runs as span
    * `<step>.bootstrap` until Runner logs its first stage (for
    * `Main.runPipeline` that is its stage 0, the schema bootstrap); each
    * stage then runs as span `<step>.<stage>`. */
  private def call(kind: String, step: String)(body: => Map[String, Any]): Map[String, Any] = {
    stageLog.summary = Map.empty
    val cpu0 = cpuNanos()
    val t0 = System.nanoTime()
    val watchdog = new java.util.Timer(true)
    watchdog.schedule(new java.util.TimerTask {
      def run(): Unit = { hung = true; sc.cancelAllJobs() }
    }, HangS * 1000L)
    val rec = try {
      if (kind == "traced") span(s"$step.bootstrap")(body) else body
    } catch { case e: Throwable => Map("error" -> errorText(e)) }
    finally watchdog.cancel()
    val timing = Map("op" -> kind, "step" -> step, "wall_s" -> secs(t0),
      "cpu_s" -> (cpuNanos() - cpu0) / 1e9)
    if (hung) Map("error" -> s"hung: no result after $HangS s, jobs cancelled") ++ timing
    else {
      awaitIdle()
      rec ++ timing
    }
  }

  private def failed(rec: Map[String, Any]): Boolean =
    rec.contains("error") || rec.get("exit_code").exists(_ != 0)

  /** etl_runner op: `Runner.run` with a sink that materializes both of its
    * outputs, the clean rows and the dead-letter rows. */
  private def runnerOp(csv: String, kind: String): Seq[Map[String, Any]] = Seq(
    call(kind, "run") {
      var rows = Map.empty[String, Any]
      Runner.run(spark, csv) { (clean, rejected) =>
        rows = Map("clean_rows" -> drain(clean), "rejected_rows" -> drain(rejected))
      } match {
        case Right(s) => rows ++ Map("exit_code" -> 0, "summary_input" -> s.nInput,
          "summary_clean" -> s.nClean, "summary_rejected" -> s.nRejected)
        case Left(halt) => Map("error" -> s"halted: $halt")
      }
    })

  /** etl_load op: `Main.runPipeline` into a new database, then a re-run of
    * the same file into it. The run's counts come from Runner's summary
    * line; the database counts are read after each call, outside its
    * timing. */
  private def loadOp(csv: String, kind: String): Seq[Map[String, Any]] = {
    val db = newDb()
    val recs = mutable.ArrayBuffer[Map[String, Any]]()
    // A timed re-run is made only onto a load that succeeded; the warm-up
    // makes both calls whatever their outcome.
    try for (step <- Seq("load", "reload") if kind == "warmup" || !recs.exists(failed)) recs += {
      val rec = call(kind, step)(Map("exit_code" -> Main.runPipeline(spark, csv, url(db))))
      if (failed(rec)) rec
      else rec ++ stageLog.summary ++ (
        try Map("clean_rows" -> rowCount(db, CleanTable),
          "rejected_rows" -> rowCount(db, RejectTable))
        catch { case e: SQLException => Map("error" -> errorText(e)) })
    } finally if (!hung) dropDb(db)
    recs.toSeq
  }

  def etl(shipped: Boolean): Unit = {
    stageLog.install()
    // Input: the reference's messy sales CSV, whitespace kept, rows in a
    // seed-chosen order. Not part of set-up time.
    val t0 = System.nanoTime()
    val csv = writeSalesCsv()
    out("csv_s") = secs(t0)
    out("csv_bytes") = new File(csv).length
    out("oracle_sql") = Map("pipeline_summary" -> graft.SparkEntry.oracleSql("pipeline_summary"))
    val op: String => Seq[Map[String, Any]] =
      if (shipped) loadOp(csv, _) else runnerOp(csv, _)

    val w0 = System.nanoTime()
    out("warmup") = (0 until WarmOps).flatMap(_ => if (hung) Nil else op("warmup"))
    out("warm_s") = secs(w0)

    val timed = mutable.ArrayBuffer[Seq[Map[String, Any]]]()
    val m0 = System.nanoTime()
    while (!hung && (timed.isEmpty || secs(m0) < seconds)) timed += op("timed")
    out("measured_s") = secs(m0)
    out("ops") = timed.toSeq

    if (trace && !hung) {
      sc.addSparkListener(listener)
      out("traced") = Map("steps" -> op("traced"), "spans" -> spanRecord())
    }
    if (!hung) out("csv_partitions") = Ingest.csv(spark, csv).rdd.getNumPartitions
    out("hung") = hung
  }

  private def writeSalesCsv(): String = {
    val dir = s"$runDir/sales_csv"
    graft.etl.Pipeline.rawSales(spark, dataDir)
      .orderBy(xxhash64(col("k"), lit(seed)))
      .drop("k")
      .coalesce(1)
      .write.option("header", "true")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(dir)
    val part = new File(dir).listFiles().filter(_.getName.startsWith("part-")).head
    val csv = new File(runDir, "sales.csv")
    Files.move(part.toPath, csv.toPath, StandardCopyOption.REPLACE_EXISTING)
    csv.getPath
  }

  // ---------------------------------------------------------------- queries

  /** Runs the physical plan of `df` and counts its rows. This is the
    * execution path of `df.write.format("noop")` minus the no-op writer:
    * every row and column is produced, and the plan is the one already
    * built for `df`, so a traced run does not plan twice. */
  private def drain(df: DataFrame): Long = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      val rdd = qe.executedPlan.execute()
      sc.runJob(rdd, (it: Iterator[InternalRow]) => {
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        n
      }).sum
    }
  }

  def queries(names: Seq[String]): Unit = {
    val fns = names.map(n => n -> graft.SparkEntry.queries(n)).toMap
    def order(pass: Int): Seq[String] = new Random(seed * 7919L + pass).shuffle(names)

    /** One pass over the mix in the order of pass `p`; `consume` runs the
      * query and returns its row count. */
    def pass(tag: String, p: Int)(consume: (String, DataFrame) => Any): Map[String, Any] = {
      val cpu0 = cpuNanos()
      val t0 = System.nanoTime()
      val recs = order(p).map { n =>
        val q0 = System.nanoTime()
        try {
          val rows = consume(n, fns(n)(spark, dataDir))
          Map("query" -> n, "pass" -> tag, "wall_s" -> secs(q0), "rows" -> rows)
        } catch {
          case e: Throwable => Map("query" -> n, "pass" -> tag, "error" -> errorText(e))
        }
      }
      Map("wall_s" -> secs(t0), "cpu_s" -> (cpuNanos() - cpu0) / 1e9, "queries" -> recs)
    }

    // Set-up: one pass that pays the one-time costs (mirror builds, code
    // generation, JIT) and writes each result for the oracle check. Under
    // the writer runs the plan the timed passes drain; a separate check
    // pass would cost more than the run time allows (see NOTES.md).
    val w0 = System.nanoTime()
    out("warmup") = pass("warm", -1) { (n, df) =>
      df.write.parquet(s"$runDir/check/$n")
      None
    }
    out("warm_s") = secs(w0)
    out("oracle_sql") = names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap

    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val m0 = System.nanoTime()
    while (passes.isEmpty || secs(m0) < seconds)
      passes += pass(s"timed${passes.size}", passes.size)((_, df) => drain(df))
    out("measured_s") = secs(m0)
    out("passes") = passes.toSeq

    if (trace) {
      sc.addSparkListener(listener)
      out("traced") = tracedPass(order(1000), fns)
    }
  }

  /** One more pass in which each query's builder call, optimisation,
    * physical planning and execution are timed apart. */
  private def tracedPass(order: Seq[String],
      fns: Map[String, (SparkSession, String) => DataFrame]): Map[String, Any] = {
    val t0 = System.nanoTime()
    val recs = order.map { n =>
      val q0 = System.nanoTime()
      try {
        val df = span(s"q.$n.build")(fns(n)(spark, dataDir))
        span(s"q.$n.optimize")(df.queryExecution.optimizedPlan)
        span(s"q.$n.physical")(df.queryExecution.executedPlan)
        val rows = span(s"q.$n.exec")(drain(df))
        Map("query" -> n, "wall_s" -> secs(q0), "rows" -> rows)
      } catch {
        case e: Throwable => Map("query" -> n, "error" -> errorText(e))
      }
    }
    Map("wall_s" -> secs(t0), "queries" -> recs, "spans" -> spanRecord())
  }
}
