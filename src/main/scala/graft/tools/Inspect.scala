package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SQLExecution, SimpleMode}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftshim.ListenerBus
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Session, SparkEntry}

/** Per-query inspection of registry queries on Bench's session
  * (`Session.bench`), so what it shows is what Bench times. Usage:
  *   runMain graft.tools.Inspect <run|explain|plans|profile> <names> [sfDir] [outDir]
  * `names` is Bench's and Verify's filter (`SparkEntry.picks`: names
  * or prefixes, comma-separated; "q" picks every query). `sfDir`
  * defaults to Bench's `SPARK_GRAFT_SF_DIR`. Modes:
  *  - run: each query's rows (the first 50 printed) and wall time;
  *  - explain: the formatted physical plan;
  *  - plans: the executed plan of EVERY action the query runs. The
  *    iterative operators localCheckpoint each round, so a plain
  *    explain of the returned frame shows only the post-loop tail;
  *  - profile: a warm rep, then a measured rep whose Spark jobs are
  *    listed with duration, stages, tasks and a label, plus the time
  *    spent between jobs (driver and planning).
  * explain and plans print, or write `outDir/<query>.txt` when an
  * outDir is given. Every mode returns its records as well. A failed
  * query is reported and skipped; after each query its cached blocks
  * and fixture clones are dropped, as Bench does. */
object Inspect {
  final case class Ran(name: String, rows: Seq[Row], sec: Double)

  /** One Spark job: wall-clock start and end (ms), its stages, tasks,
    * and label. */
  final case class Job(id: Int, t0: Long, t1: Long, stages: Int,
      tasks: Int, label: String) {
    def sec: Double = (t1 - t0) / 1000.0
  }

  final case class Profile(name: String, rows: Long, sec: Double,
      jobs: Seq[Job]) {
    /** Seconds in which no job of the rep was running. */
    def gapSec: Double = jobs.foldLeft((0L, 0L)) { case ((gap, end), j) =>
      (if (end > 0 && j.t0 > end) gap + j.t0 - end else gap, end max j.t1)
    }._1 / 1000.0
  }

  /** Records each job of the measured rep. A job that belongs to a SQL
    * execution is labelled with that execution's description (its
    * action's call site): AQE submits query-stage jobs from a pool
    * thread, so their own stage call site is the same
    * `CompletableFuture` frame for every job. Other jobs keep the name
    * of their last stage. */
  private final class JobLog extends SparkListener {
    private val jobs = new ConcurrentHashMap[Int, Job]()
    private val stageToJob = new ConcurrentHashMap[Int, Int]()
    private val execLabel = new ConcurrentHashMap[Long, String]()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execLabel.put(s.executionId, s"sql ${s.executionId}: ${s.description}")
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .flatMap(id => Option(execLabel.get(id.toLong)))
      val label = exec.getOrElse(e.stageInfos.sortBy(_.stageId).lastOption
        .map(_.name).getOrElse(""))
      e.stageInfos.foreach(s => stageToJob.put(s.stageId, e.jobId))
      jobs.put(e.jobId, Job(e.jobId, e.time, 0L, e.stageInfos.size, 0, label))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      jobs.computeIfPresent(stageToJob.getOrDefault(e.stageInfo.stageId, -1),
        (_, j) => j.copy(tasks = j.tasks + e.stageInfo.numTasks))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.computeIfPresent(e.jobId, (_, j) => j.copy(t1 = e.time))
    def reset(): Unit = { jobs.clear(); stageToJob.clear(); execLabel.clear() }
    def snapshot: Seq[Job] = jobs.values.asScala.toSeq.sortBy(_.id)
  }

  private def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    graft.queries.GlogFixtures.sweepClones()
  }

  private def each[A](spark: SparkSession, names: Seq[String])(
      body: String => A): Seq[A] = names.flatMap { q =>
    val out = try Some(body(q)) catch { case e: Throwable =>
      println(s"[inspect] $q FAILED: $e")
      None
    }
    release(spark)
    out
  }

  private def emit(q: String, text: String, outDir: Option[String]): Unit =
    outDir match {
      case Some(d) =>
        Files.createDirectories(Paths.get(d))
        Files.writeString(Paths.get(d, s"$q.txt"), text)
        println(s"[inspect] wrote $d/$q.txt")
      case None => println(s"\n================ $q ================\n$text")
    }

  def run(spark: SparkSession, names: Seq[String], sfDir: String): Seq[Ran] =
    each(spark, names) { q =>
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(q)(spark, sfDir)
      val r = Ran(q, df.collect().toSeq, (System.nanoTime() - t0) / 1e9)
      println(df.columns.mkString(" | "))
      r.rows.take(50).foreach(row => println(row.mkString(" | ")))
      println(f"== $q rows=${r.rows.size} took ${r.sec}%.3f s")
      r
    }

  /** (query, formatted physical plan). */
  def explain(spark: SparkSession, names: Seq[String], sfDir: String,
      outDir: Option[String]): Seq[(String, String)] = each(spark, names) { q =>
    val plan = SparkEntry.queries(q)(spark, sfDir).queryExecution
      .explainString(FormattedMode)
    emit(q, plan, outDir)
    q -> plan
  }

  /** (query, (action name, executed plan) of each action it ran). */
  def plans(spark: SparkSession, names: Seq[String], sfDir: String,
      outDir: Option[String]): Seq[(String, Seq[(String, String)])] = {
    val seen = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        seen.add(funcName -> qe.explainString(SimpleMode))
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try each(spark, names) { q =>
      seen.clear()
      SparkEntry.queries(q)(spark, sfDir).count()
      ListenerBus.drain(spark.sparkContext)
      val actions = seen.asScala.toSeq
      emit(q, actions.map { case (f, p) => s"==== action: $f\n$p" }
        .mkString("\n"), outDir)
      q -> actions
    } finally spark.listenerManager.unregister(listener)
  }

  def profile(spark: SparkSession, names: Seq[String],
      sfDir: String): Seq[Profile] = {
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    try each(spark, names) { q =>
      val fn = SparkEntry.queries(q)
      fn(spark, sfDir).count() // warm rep: codegen, fixtures
      release(spark)
      System.gc()
      ListenerBus.drain(spark.sparkContext)
      log.reset()
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      ListenerBus.drain(spark.sparkContext)
      val p = Profile(q, n, sec, log.snapshot)
      println(f"== $q rows=$n took $sec%.3f s")
      p.jobs.foreach(j => println(f"    job ${j.id}%4d ${j.sec}%7.3f s " +
        f"stages=${j.stages}%2d tasks=${j.tasks}%4d  ${j.label.take(110)}"))
      println(f"    == ${p.jobs.size} jobs, ${p.jobs.map(_.sec).sum}%.3f s " +
        f"in jobs, ${p.gapSec}%.3f s between jobs (driver/planning)")
      p
    } finally spark.sparkContext.removeSparkListener(log)
  }

  def main(args: Array[String]): Unit = {
    val modes = Seq("run", "explain", "plans", "profile")
    val sfDir = args.lift(2).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("")
    require(args.length >= 2 && modes.contains(args(0)) && sfDir.nonEmpty,
      s"usage: Inspect <${modes.mkString("|")}> <names> [sfDir] [outDir]")
    val outDir = args.lift(3)
    val spark = Session.bench()
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(SparkEntry.picks(Some(args(1))))
    args(0) match {
      case "run" => run(spark, names, sfDir)
      case "explain" => explain(spark, names, sfDir, outDir)
      case "plans" => plans(spark, names, sfDir, outDir)
      case "profile" => profile(spark, names, sfDir)
    }
    spark.stop()
  }
}
