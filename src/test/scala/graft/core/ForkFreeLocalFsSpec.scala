package graft.core

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._
import scala.util.Try

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.operators.NodePipeline
import graft.sources.MetricDatagen

/** The shared session's local checkpoint I/O starts no process, writes the
  * checkpoint stock Hadoop writes, and [[ForkFreeRawLocalFileSystem]]'s two
  * in-process methods answer as stock `RawLocalFileSystem`'s shell-outs do.
  */
class ForkFreeLocalFsSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  /** `command` of every `jdk.ProcessStart` event while `body` runs. */
  private def processesStartedBy(body: => Unit): Seq[String] = {
    val recording = new Recording()
    try {
      recording.enable("jdk.ProcessStart")
      recording.start()
      try body finally recording.stop()
      val dump = Files.createTempFile("graft-forks-", ".jfr")
      try {
        recording.dump(dump)
        RecordingFile.readAllEvents(dump).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
      } finally Files.deleteIfExists(dump)
    } finally recording.close()
  }

  test("a checkpointed stream and a parquet write start no readlink or chmod process") {
    val cfg = PipelineConfig(minHistory = 2)
    val checkpoint = Files.createTempDirectory("graft-nofork-ckpt-")
    val parquetOut = Files.createTempDirectory("graft-nofork-out-").resolve("t")
    val batches = 8
    val commands = processesStartedBy {
      val source = MetricDatagen.streamMicroBatch(
        spark, numNodes = 20, rowsPerBatch = 20, advanceMsPerBatch = cfg.windowMillis)
      val q = NodePipeline(source, cfg).writeStream
        .format("memory").queryName("nofork_out").outputMode("append")
        .option("checkpointLocation", checkpoint.toString)
        .start()
      try {
        val deadline = System.currentTimeMillis + 120000L
        def done = Option(q.lastProgress).exists(_.batchId >= batches - 1)
        while (q.isActive && !done && System.currentTimeMillis < deadline) Thread.sleep(50)
        assert(done, s"stream stopped before batch ${batches - 1}: ${q.exception}")
      } finally q.stop()
      spark.range(100).write.parquet(parquetOut.toString)
    }

    // the checkpoint has every file kind stock Hadoop + Spark write: the
    // offsets/commits logs and the HDFS-backed state store's deltas, each
    // with its Hadoop .crc sidecar, plus Spark's checkpoint-file checksum
    val files = Files.walk(checkpoint).iterator.asScala.filter(Files.isRegularFile(_)).toSeq
    val kinds = files.map(f => checkpoint.relativize(f).toString.replaceAll("[0-9]+", "N")).toSet
    val expected = Set("offsets/N", "offsets/.N.crc", "commits/N", "commits/.N.crc",
      "state/N/N/N.delta", "state/N/N/.N.delta.crc", "state/N/N/N.delta.crc", "state/N/N/.N.delta.crc.crc")
    assert(expected.subsetOf(kinds), s"missing ${expected -- kinds}; checkpoint holds ${kinds.toSeq.sorted}")
    val modes = files.map(f => PosixFilePermissions.toString(Files.getPosixFilePermissions(f))).toSet
    assert(modes == Set("rw-r--r--"), modes)

    val forks = commands.filter(c => c.startsWith("readlink") || c.startsWith("chmod"))
    assert(forks.size == 0,
      s"${forks.size} readlink/chmod of ${commands.size} processes started, e.g. ${forks.take(3).mkString("; ")}")
  }

  private def localFs(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stock = localFs(new RawLocalFileSystem)
  private lazy val shim = localFs(new ForkFreeRawLocalFileSystem)

  test("getFileLinkStatus answers as stock RawLocalFileSystem") {
    val dir = Files.createTempDirectory("graft-linkstatus-")
    val file = Files.write(dir.resolve("file"), "abc".getBytes)
    val sub = Files.createDirectory(dir.resolve("sub"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val relLink = Files.createSymbolicLink(dir.resolve("rel-link"), file.getFileName)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("missing"))
    def view(s: FileStatus) =
      (s.isSymlink, if (s.isSymlink) Some(s.getSymlink) else None, s.isDirectory, s.getLen)
    // scheme-less and file:-qualified, as FileSystem and FileContext callers pass them
    for (p <- Seq(file, sub, link, relLink, dangling); path <- Seq(new Path(p.toString), new Path(p.toUri))) {
      val want = Try(view(stock.getFileLinkStatus(path))).toEither.left.map(_.getClass)
      val got = Try(view(shim.getFileLinkStatus(path))).toEither.left.map(_.getClass)
      assert(got == want, path)
    }
    assert(shim.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(shim.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
    intercept[FileNotFoundException](stock.getFileLinkStatus(new Path(dir.resolve("missing").toString)))
    intercept[FileNotFoundException](shim.getFileLinkStatus(new Path(dir.resolve("missing").toString)))
  }

  test("setPermission leaves the mode bits stock RawLocalFileSystem leaves") {
    val dir = Files.createTempDirectory("graft-setperm-")
    def modeAfter(fs: RawLocalFileSystem, name: String, mode: Int): String = {
      val f = Files.createFile(dir.resolve(name))
      Files.setPosixFilePermissions(f, PosixFilePermissions.fromString("rwxrwxrwx"))
      fs.setPermission(new Path(f.toString), new FsPermission(mode.toShort))
      PosixFilePermissions.toString(Files.getPosixFilePermissions(f))
    }
    for (mode <- Seq("600", "644", "700", "755").map(Integer.parseInt(_, 8))) {
      val want = modeAfter(stock, f"stock-$mode%o", mode)
      assert(modeAfter(shim, f"shim-$mode%o", mode) == want, f"$mode%o")
    }
  }
}
