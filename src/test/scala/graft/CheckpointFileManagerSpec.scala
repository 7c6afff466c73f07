package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{LocalCheckpointFileManager, StreamingLatest}

/** The replay checkpoint file manager: the write contract Spark's
  * checkpoint logs and state stores rely on, and no process spawns on
  * the checkpoint path of a real replay. */
class CheckpointFileManagerSpec extends AnyFunSuite {
  private val conf = new Configuration()

  /** A manager rooted at a fresh temp dir, and the checkpoint file `0` in it. */
  private def withManager(body: (LocalCheckpointFileManager, NioPath, Path) => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-ckpt-fm")
    try body(new LocalCheckpointFileManager(new Path(dir.toUri), conf), dir,
      new Path(dir.resolve("0").toUri))
    finally StageDirs.rm(dir)
  }

  private def write(fm: LocalCheckpointFileManager, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  /** Reads through Hadoop's local `FileSystem`, which verifies a `.crc` sidecar if present. */
  private def read(p: Path): String = {
    val in = FileSystem.get(p.toUri, conf).open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: NioPath): Set[String] = {
    val s = Files.list(dir)
    try s.iterator.asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  test("createAtomic publishes the file on close, not before") {
    withManager { (fm, dir, p) =>
      val out = fm.createAtomic(p, false)
      out.write("batch 0".getBytes(UTF_8))
      assert(!Files.exists(dir.resolve("0")), "the target must not appear before close")
      out.close()
      assert(read(p) == "batch 0")
      assert(names(dir) == Set("0"), "close must leave no temp file")
    }
  }

  test("cancel leaves neither the file nor its temp file") {
    withManager { (fm, dir, p) =>
      val out = fm.createAtomic(p, false)
      out.write("batch 0".getBytes(UTF_8))
      out.cancel()
      assert(names(dir).isEmpty)
    }
  }

  test("without overwrite an existing target throws FileAlreadyExistsException and keeps its bytes") {
    withManager { (fm, dir, p) =>
      write(fm, p, "first writer", overwrite = false)
      intercept[FileAlreadyExistsException] {
        write(fm, p, "second writer", overwrite = false)
      }
      assert(read(p) == "first writer")
      assert(names(dir) == Set("0"), "the losing write must leave no temp file")
    }
  }

  test("with overwrite the file is replaced and its stale .crc sidecar removed") {
    withManager { (fm, dir, p) =>
      // Hadoop's local FileSystem writes a .crc sidecar next to the file
      val old = FileSystem.get(p.toUri, conf).create(p, true)
      old.write("old bytes".getBytes(UTF_8))
      old.close()
      assert(Files.exists(dir.resolve(".0.crc")))
      write(fm, p, "new bytes, longer", overwrite = true)
      assert(!Files.exists(dir.resolve(".0.crc")), "the stale sidecar must be deleted")
      assert(read(p) == "new bytes, longer")
    }
  }

  /** `command from frames` for each process started while `body` runs
    * whose stack has a frame (`Class.method`) matching `frame`, on a
    * thread whose name does not match `skipThreads`. Cancels the test
    * when JFR is unavailable. */
  private def spawnsFrom(frame: String, skipThreads: String = "$^")(body: => Unit): Seq[String] = {
    import jdk.jfr.{FlightRecorder, Recording}
    import jdk.jfr.consumer.RecordingFile
    assume(FlightRecorder.isAvailable, "JFR is not available in this JVM")
    val dump = Files.createTempFile("graft-spawns", ".jfr")
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      try body finally rec.stop()
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq.flatMap { e =>
        val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
        val thread = Option(e.getThread).flatMap(t => Option(t.getJavaName)).getOrElse("")
        if (frames.exists(_.matches(frame)) && !thread.matches(skipThreads))
          Some(e.getString("command") + " from " + frames.take(30).mkString(" < "))
        else None
      }
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  // Hadoop without native libhadoop shells out to chmod/readlink on
  // local creates, mkdirs and FileContext renames; a replay's checkpoint
  // writes must not.
  test("a RocksDB stateful replay starts no process from a checkpoint file manager") {
    val spawns = spawnsFrom(".*CheckpointFileManager(\\$.*)?\\.[^.]+") {
      StreamingLatest.streamStatefulRocksDb(SparkFixture.spark, SparkFixture.Sf).collect()
    }
    assert(spawns.isEmpty, s"${spawns.size} process starts on the checkpoint path")
  }

  // The replay sinks keep each micro-batch in the engine: no file write,
  // so none of the parquet output path's chmod spawns.
  test("a stateful replay starts no process from a file-output commit or writer") {
    val spawns = spawnsFrom(
        ".*\\.(HadoopMapReduceCommitProtocol|ParquetOutputCommitter|HadoopOutputFile)(\\$.*)?\\.[^.]+") {
      StreamingLatest.streamStateful(SparkFixture.spark, SparkFixture.Sf).collect()
    }
    assert(spawns.isEmpty, s"${spawns.size} process starts on the file-output path")
  }

  // RocksDB's store load and close each shell out to `rm -rf`, and its
  // SST uploads to `chmod`; a join replays on the session's provider,
  // which starts none. The background maintenance thread is skipped: it
  // can flush stores that earlier replays in this JVM loaded.
  test("a join replay starts no process from state-store code") {
    val spawns = spawnsFrom("org\\.apache\\.spark\\.sql\\.execution\\.streaming\\.state\\..*",
        skipThreads = "state-store-maintenance.*") {
      StreamingLatest.streamJoin(SparkFixture.spark, SparkFixture.Sf).collect()
    }
    assert(spawns.isEmpty, s"${spawns.size} process starts from state-store code: ${spawns.take(3)}")
  }
}
