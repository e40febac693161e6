package lakebench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One timed operation of the closed loop: its kind and name, wall and
  * process-CPU seconds, epoch-ms window, and the inner steps it timed. */
final case class OpSample(unit: Int, kind: String, name: String, wallS: Double,
    cpuS: Double, t0Ms: Long, t1Ms: Long, steps: Seq[(String, Double)])

/** The closed-loop client: runs one operation at a time, times it from
  * outside, checks its output after the clock stops, and counts a throw
  * or a wrong answer as a failure that never becomes a timing. */
final class Harness(val spark: SparkSession, traced: Boolean) {
  val trace = new Trace(traced)
  val probe: Option[Probe] = if (traced) Some(new Probe(spark).install()) else None

  /** The unit of work (pass or cycle) the next operations belong to. */
  var unit = 0
  var attempted = 0L
  var failed = 0L
  val ops = ArrayBuffer.empty[OpSample]
  private var openSteps: List[ArrayBuffer[(String, Double)]] = Nil

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS(): Double = os.getProcessCpuTime / 1e9

  /** Run one operation. `check` sees the result after timing and returns
    * an error message for a wrong answer. Only a successful, correct
    * operation is recorded, and only when `measured`. */
  def op[A](kind: String, name: String, measured: Boolean = true)(body: => A)(
      check: A => Option[String]): Option[A] = {
    attempted += 1
    val steps = ArrayBuffer.empty[(String, Double)]
    openSteps = steps :: openSteps
    val c0 = cpuS()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res: Either[String, A] =
      try Right(trace.span(s"$kind.$name")(body))
      catch { case e: Throwable => Left(describe(e)) }
    val wall = (System.nanoTime() - t0) / 1e9
    val w1 = System.currentTimeMillis()
    val cpu = cpuS() - c0
    openSteps = openSteps.tail
    val verdict = res.flatMap(a =>
      try check(a).toLeft(a)
      catch { case e: Throwable => Left(describe(e)) })
    verdict match {
      case Right(a) =>
        if (measured) ops += OpSample(unit, kind, name, wall, cpu, w0, w1, steps.toSeq)
        System.err.println(f"[lakebench] $kind $name ${if (measured) "" else "(set-up) "}$wall%.3f s")
        Some(a)
      case Left(msg) =>
        failed += 1
        System.err.println(s"[lakebench] $kind $name FAILED: $msg")
        None
    }
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  /** Time one call into a layer inside the current operation. */
  def step[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val a = trace.span(name)(body)
    val dt = (System.nanoTime() - t0) / 1e9
    openSteps.headOption.foreach(_ += (name -> dt))
    a
  }

  /** Untimed housekeeping between operations, as Bench does: release
    * cached blocks an operation left behind, so the next operation does
    * not run short of storage memory because of its neighbour. */
  def settle(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
}
