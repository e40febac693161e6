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

  val sf0001 = "/root/testdata/sf0.001"
}
