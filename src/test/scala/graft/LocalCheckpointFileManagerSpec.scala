package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{LocalCheckpointFileManager, StreamTuning}

/** The no-fork checkpoint manager that [[StreamTuning]] installs: a
  * stateful stream under it starts no `readlink`/`chmod` process on
  * its checkpoint (a JFR `jdk.ProcessStart` census, with the default
  * manager as the control that shows the census can see them), lays
  * its checkpoint out exactly as the default manager does (same
  * files, `.crc` and Spark checksum sidecars, 0644 files and 0755
  * directories), resumes checkpoints in both directions, leaves
  * non-`file:` paths to Spark, and its scope restores the session. */
class LocalCheckpointFileManagerSpec extends SparkSuite {
  import spark.implicits._

  private val Key = LocalCheckpointFileManager.ConfKey

  private def feed(in: Path, file: String, lo: Int, hi: Int): Unit =
    writeText(in, file, (lo until hi).map(i => s"""{"k":${i % 7},"v":$i}""")
      .mkString("", "\n", "\n"))

  /** A stateful count per key, one input file per trigger, drained to
    * the end; returns the last complete result. */
  private def drain(in: Path, ckpt: Path): Seq[(Long, Long, Long)] = {
    var last = Seq.empty[(Long, Long, Long)]
    val q = spark.readStream.schema("k LONG, v LONG")
      .option("maxFilesPerTrigger", 1).json(in.toString)
      .groupBy($"k").agg(count(lit(1)).as("n"), sum($"v").as("s"))
      .writeStream.outputMode("complete")
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        last = b.as[(Long, Long, Long)].collect().toSeq.sorted
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    last
  }

  private def expected(lo: Int, hi: Int): Seq[(Long, Long, Long)] =
    (lo until hi).groupBy(_ % 7).toSeq.map { case (k, vs) =>
      (k.toLong, vs.size.toLong, vs.map(_.toLong).sum)
    }.sorted

  /** Runs `f` with the session's manager key unset: Spark's default. */
  private def withDefaultManager[T](f: => T): T = {
    val prev = spark.conf.getOption(Key)
    spark.conf.unset(Key)
    try f finally prev.foreach(spark.conf.set(Key, _))
  }

  /** The command lines of every process the JVM started during `f`. */
  private def processStarts(f: => Unit): Seq[String] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      f
      rec.stop()
      val out = Files.createTempFile("process-starts", ".jfr")
      try {
        rec.dump(out)
        RecordingFile.readAllEvents(out).asScala
          .map(_.getString("command")).toSeq
      } finally Files.deleteIfExists(out)
    } finally rec.close()
  }

  private def twoFileInput(): Path = {
    val in = tmpDir("lcfm-in")
    feed(in, "a.json", 0, 300)
    feed(in, "b.json", 300, 700)
    in
  }

  test("a stateful stream in the scope forks no readlink/chmod on its checkpoint") {
    val in = twoFileInput()
    val ours = tmpDir("lcfm-ck")
    val dflt = tmpDir("lcfm-ck-default")
    def touching(cmds: Seq[String], ckpt: Path) =
      cmds.filter(c => c.contains(ckpt.toString) &&
        (c.contains("readlink") || c.contains("chmod")))
    val underScope = processStarts {
      assert(StreamTuning.withStatePartitions(spark, 4)(drain(in, ours)) ===
        expected(0, 700))
    }
    assert(touching(underScope, ours).isEmpty,
      touching(underScope, ours).take(5).mkString("\n"))
    // control: the default manager's forks are visible to the census
    val underDefault = processStarts {
      StreamTuning.withStatePartitions(spark, 4) {
        assert(withDefaultManager(drain(in, dflt)) === expected(0, 700))
      }
    }
    assert(touching(underDefault, dflt).nonEmpty,
      "the default manager forked nothing: the census cannot see forks")
  }

  test("same checkpoint files, sidecars and permission bits as the default manager") {
    val in = twoFileInput()
    val ours = tmpDir("lcfm-layout")
    val dflt = tmpDir("lcfm-layout-default")
    StreamTuning.withStatePartitions(spark, 4)(drain(in, ours))
    StreamTuning.withStatePartitions(spark, 4) {
      withDefaultManager(drain(in, dflt))
    }
    def layout(root: Path): Map[String, String] = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_ != root).map { p =>
        root.relativize(p).toString ->
          PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      }.toMap finally s.close()
    }
    val got = layout(ours)
    assert(got === layout(dflt))
    got.foreach { case (rel, perms) =>
      val want = if (Files.isDirectory(ours.resolve(rel))) "rwxr-xr-x" else "rw-r--r--"
      assert(perms === want, rel)
    }
    val names = got.keys.map(r => Paths.get(r).getFileName.toString)
    // both sidecars end in .crc: hadoop's are hidden (".1.delta.crc"),
    // spark's checkpoint checksum files are not ("1.delta.crc")
    assert(names.exists(n => n.startsWith(".") && n.endsWith(".crc")),
      "hadoop .crc sidecars")
    assert(names.exists(n => !n.startsWith(".") && n.endsWith(".crc")),
      "spark checkpoint checksum files")
  }

  test("a checkpoint resumes across managers in both directions") {
    // default manager first, then ours
    val in1 = tmpDir("lcfm-resume-in")
    val ck1 = tmpDir("lcfm-resume-ck")
    feed(in1, "a.json", 0, 300)
    assert(withDefaultManager(drain(in1, ck1)) === expected(0, 300))
    feed(in1, "b.json", 300, 700)
    assert(StreamTuning.withLocalCheckpoints(spark)(drain(in1, ck1)) ===
      expected(0, 700))
    // ours first, then the default manager
    val in2 = tmpDir("lcfm-resume-in")
    val ck2 = tmpDir("lcfm-resume-ck")
    feed(in2, "a.json", 0, 300)
    assert(StreamTuning.withLocalCheckpoints(spark)(drain(in2, ck2)) ===
      expected(0, 300))
    feed(in2, "b.json", 300, 700)
    assert(withDefaultManager(drain(in2, ck2)) === expected(0, 700))
  }

  test("a non-file: path gets Spark's default manager") {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set(Key, classOf[LocalCheckpointFileManager].getName)
    // a scheme with a FileSystem but no FileContext binding: Spark
    // falls back to its FileSystem-based manager
    conf.set("fs.lcfmtest.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    conf.setBoolean("fs.lcfmtest.impl.disable.cache", true)
    val remote = new HPath("lcfmtest:///cp")
    val viaConf = CheckpointFileManager.create(remote, conf)
    assert(viaConf.isInstanceOf[LocalCheckpointFileManager])
    val plain = new Configuration(conf)
    plain.unset(Key)
    val delegate = viaConf.asInstanceOf[LocalCheckpointFileManager].delegate
    assert(delegate.getClass === CheckpointFileManager.create(remote, plain).getClass)
    val local = CheckpointFileManager.create(
      new HPath(tmpDir("lcfm-local").toUri), conf)
    assert(local.asInstanceOf[LocalCheckpointFileManager].delegate.getClass !==
      delegate.getClass)
  }

  test("java.nio permission bits match the chmod modes") {
    val fs = new LocalCheckpointFileManager.NioRawLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    val f = Files.createTempFile("lcfm-perm", ".bin")
    try Seq(0x1a4 -> "rw-r--r--", 0x1ed -> "rwxr-xr-x", 0x1e9 -> "rwxr-x--x",
        0x180 -> "rw-------", 0x0 -> "---------").foreach { case (m, want) =>
      fs.setPermission(new HPath(f.toUri), new FsPermission(m.toShort))
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(f)) ===
        want, f"mode $m%o")
    } finally Files.deleteIfExists(f)
  }

  test("the scope restores the session conf, also when its body throws") {
    val parts = "spark.sql.shuffle.partitions"
    val prevParts = spark.conf.get(parts)
    withDefaultManager {
      intercept[IllegalStateException] {
        StreamTuning.withStatePartitions(spark, 3) {
          assert(spark.conf.get(parts) === "3")
          assert(spark.conf.get(Key) === classOf[LocalCheckpointFileManager].getName)
          throw new IllegalStateException("body failed")
        }
      }
      assert(spark.conf.getOption(Key).isEmpty)
      assert(spark.conf.get(parts) === prevParts)
      // a value set before the scope comes back as it was
      val other = "org.apache.spark.sql.execution.streaming.checkpointing." +
        "FileSystemBasedCheckpointFileManager"
      spark.conf.set(Key, other)
      StreamTuning.withLocalCheckpoints(spark) {
        assert(spark.conf.get(Key) === classOf[LocalCheckpointFileManager].getName)
      }
      assert(spark.conf.get(Key) === other)
      spark.conf.unset(Key)
    }
  }
}
