package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One SparkSession for the whole test JVM (guide: one per suite via
  * lazy val; a process-wide singleton is cheaper still and safe —
  * getOrCreate returns the same session). `Session.local` registers
  * functions and extensions up front: individual tests must not
  * depend on an earlier test having read a table (which registers as
  * a side effect) — `testOnly X -- -z <one test>` runs in isolation
  * too. */
object SparkSuite {
  lazy val spark: SparkSession = Session.local(4)
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.spark

  def tmpDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  def writeText(dir: Path, name: String, content: String): Path = {
    Files.createDirectories(dir)
    val p = dir.resolve(name)
    Files.writeString(p, content)
    p
  }

  /** Runs `f` with `spark.sql.autoBroadcastJoinThreshold` at `bytes`
    * (None: unchanged), restoring the previous value afterwards — the
    * budget that picks between a driver-side and a distributed plan
    * (PageRank's rank vector, GraftLog's point reads). */
  def withBudget[A](bytes: Option[Long])(f: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    bytes.foreach(b => spark.conf.set(key, b.toString))
    try f
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  val sf0001 = "/root/testdata/sf0.001"
}
