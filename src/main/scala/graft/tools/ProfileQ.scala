package graft.tools

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Per-job wall-time profiler for one or more registry queries: runs
  * each query exactly as Bench does (same master/width/confs, warm
  * second rep) and prints every Spark job the query submitted with
  * its duration, task count, and a label — the measurement §1 of the
  * optimization guide asks for before any change. A job that belongs
  * to a SQL execution is labelled with that execution's description
  * (its action's call site): AQE submits query-stage jobs from a
  * pool thread, so their own stage call site is the same
  * `CompletableFuture` frame for every job. Other jobs keep the call
  * site of their last stage. Usage:
  *   runMain graft.tools.ProfileQ <q1,q2,…> [sfDir] [cpus]
  */
object ProfileQ {
  private final class JobLog extends SparkListener {
    case class Job(id: Int, t0: Long, var t1: Long = 0L,
      var site: String = "", var nTasks: Int = 0,
      var nStages: Int = 0)
    val jobs = new ConcurrentHashMap[Int, Job]()
    val stageToJob = new ConcurrentHashMap[Int, Int]()
    val execLabel = new ConcurrentHashMap[Long, String]()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execLabel.put(s.executionId, s"sql ${s.executionId}: ${s.description}")
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val j = Job(e.jobId, e.time)
      j.nStages = e.stageInfos.size
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .flatMap(id => Option(execLabel.get(id.toLong)))
      j.site = exec.getOrElse(e.stageInfos.sortBy(_.stageId).lastOption
        .map(_.name).getOrElse(""))
      e.stageInfos.foreach(s => stageToJob.put(s.stageId, e.jobId))
      jobs.put(e.jobId, j)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val j = jobs.get(stageToJob.getOrDefault(e.stageInfo.stageId, -1))
      if (j != null) j.nTasks += e.stageInfo.numTasks
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) j.t1 = e.time
    }
    def reset(): Unit = { jobs.clear(); stageToJob.clear(); execLabel.clear() }
    def report(): Unit = {
      import scala.jdk.CollectionConverters._
      val all = jobs.values.asScala.toSeq.sortBy(_.id)
      var gap = 0L
      var prevEnd = 0L
      all.foreach { j =>
        if (prevEnd > 0 && j.t0 > prevEnd) gap += j.t0 - prevEnd
        prevEnd = math.max(prevEnd, j.t1)
        println(f"    job ${j.id}%4d ${(j.t1 - j.t0) / 1000.0}%7.3f s " +
          f"stages=${j.nStages}%2d tasks=${j.nTasks}%4d  ${j.site.take(110)}")
      }
      val tot = all.map(j => j.t1 - j.t0).sum / 1000.0
      println(f"    == ${all.size} jobs, ${tot}%.3f s in jobs, " +
        f"${gap / 1000.0}%.3f s between jobs (driver/planning)")
    }
  }

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 2) args(2) else "32"
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.sketchAudit", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    names.foreach { q =>
      val fn = graft.SparkEntry.queries(q)
      // warm rep (codegen/fixture), then the measured rep
      try fn(spark, dir).count() catch { case e: Throwable =>
        println(s"$q warm FAILED: $e") }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      graft.queries.GlogFixtures.sweepClones()
      System.gc()
      log.reset()
      val t0 = System.nanoTime()
      val n = fn(spark, dir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let listener events drain
      println(f"== $q rows=$n took $dt%.3f s")
      log.report()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      graft.queries.GlogFixtures.sweepClones()
    }
    spark.stop()
  }
}
