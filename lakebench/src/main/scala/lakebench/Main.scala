package lakebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Lake benchmark: one workload, one JVM, one closed-loop client.
  *
  * Usage: lakebench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --work <dir> --out <dir> --pins <file>
  *          --sf <dir> --warm-sf <dir>
  *
  * The amount of work is a function of the workload and `--seconds`
  * alone, never of measured speed, so two commits do the same work and
  * merge into same-sized tables. The last stdout line is the result. */
object Main {
  /** Each workload with the seconds one unit of its work (a heavy pass,
    * a lake cycle) takes at local[4], used only to size the fixed work
    * from `--seconds`. */
  private val UnitSeconds = Map("registry_heavy" -> 40.0, "lake_writes" -> 12.0)

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, out: Path, pins: Path, sf: String, warmSf: String)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(req("workload"), req("seed").toLong, req("seconds").toInt,
      req("trace") match { case "0" => false; case "1" => true
        case t => throw new IllegalArgumentException(s"--trace $t") },
      Paths.get(req("work")), Paths.get(req("out")), Paths.get(req("pins")),
      req("sf"), req("warm-sf"))
    require(UnitSeconds.contains(o.workload), s"unknown workload ${o.workload}")
    require(o.seconds >= 1, "--seconds must be positive")
    o
  }

  /** Whole units of work for a run of `seconds`: a unit is never split,
    * so a run measures at least one. */
  def units(workload: String, seconds: Int): Int =
    math.max(1, (seconds / UnitSeconds(workload)).toInt)

  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.graft.sketchAudit", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val host0 = Host.sample()
    def since(): Double = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val spark = session(o.work)
    val h = new Harness(spark, o.trace)
    System.err.println(f"[lakebench] session ready at ${since()}%.3f s")
    var setupS = Double.NaN
    var base: Option[Counters] = None
    val setupDone = () => {
      setupS = since()
      System.err.println(f"[lakebench] set-up done at $setupS%.3f s")
      base = h.probe.map { p => p.resetPeak(); p.snapshot() }
    }
    val n = units(o.workload, o.seconds)
    val lake = o.workload match {
      case "registry_heavy" =>
        Registry.run(h, n, o.sf, o.warmSf, Registry.loadPins(o.pins), setupDone)
        None
      case "lake_writes" =>
        Some(Lake.run(h, o.seed, n, o.work.resolve("lake"), setupDone))
    }
    val layers = h.probe.map(p => p.snapshot() - base.get)
    val host1 = Host.sample()
    val report = new Report(o.workload, h, setupS, lake, layers,
      h.probe.map(_.stateRowsTotal()).getOrElse(0L), host0, host1)
    if (o.trace) h.trace.write(o.out.resolve(s"spans-${o.workload}-${o.seed}.jsonl"))
    h.probe.foreach(_.remove())
    spark.stop()
    val metrics = if (o.trace) report.perLayer else report.endToEnd
    println(Json.obj(Seq("provenance" -> Json.obj(report.provenance))).s)
    println(Json.obj(Seq(
      "correct" -> (h.failed == 0 && h.attempted > 0),
      "attempted" -> h.attempted,
      "failed" -> h.failed,
      "metrics" -> Json.obj(metrics.map { case (k, (v, unit)) =>
        k -> Json.obj(Seq("value" -> v, "unit" -> unit)) }))).s)
  }
}

/** Host contention signals: hypervisor steal ticks and 1-minute load. */
final case class Host(stealTicks: Long, totalTicks: Long, load1: Double)

object Host {
  def sample(): Host = {
    val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .drop(1).map(_.toLong)
    val load = Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    Host(if (cpu.length > 7) cpu(7) else 0L, cpu.sum, load)
  }
}

/** Minimal JSON rendering for the result lines. */
object Json {
  def value(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric $d")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case raw: Raw => raw.s
    case other => throw new IllegalArgumentException(s"no JSON for $other")
  }
  final case class Raw(s: String)
  def obj(kvs: Seq[(String, Any)]): Raw =
    Raw(kvs.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}"))
}
