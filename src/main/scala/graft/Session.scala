package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory of the mains and the test suite:
  * `local[cpus]` with one shuffle partition per core, UTC, no UI, WARN
  * logging, graft's SQL functions and planner extensions installed.
  * Both installs are idempotent, so a second call on a JVM whose
  * session exists (`getOrCreate`) adds no duplicate rule or strategy. */
object Session {
  /** Cores to run on: `SPARK_GRAFT_CPUS` when set, else every core. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cpus: Int = Session.cpus): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(s)
    graft.plans.GraftExtensions.install(s)
    s
  }

  /** `local` as Bench times queries: sketch queries (q17/q50) drop
    * their exact-companion audit columns (`spark.graft.sketchAudit`),
    * because at scale the sketch REPLACES the exact shuffle/sort, and
    * timing both would measure the thing the operator exists to
    * avoid. Verify keeps the audit branch for the correctness dump. */
  def bench(cpus: Int = Session.cpus): SparkSession = {
    val s = local(cpus)
    s.conf.set("spark.graft.sketchAudit", "false")
    s
  }
}
