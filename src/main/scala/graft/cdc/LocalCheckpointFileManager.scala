package graft.cdc

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileAlreadyExistsException,
  FileStatus, Path, PathFilter, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** The checkpoint file manager every replay writes its checkpoint
  * through (offset, commit and source logs, state-schema files, HDFS
  * state deltas, RocksDB changelogs and zips). Selected by
  * `spark.sql.streaming.checkpointFileManagerClass`, which makes Spark
  * build one per checkpoint root with this `(Path, Configuration)`
  * constructor.
  *
  * Without native `libhadoop`, Hadoop's local file system shells out to
  * `chmod` on every file create and mkdir, and `FileContext.rename`
  * shells out to `readlink` twice, so Spark's default
  * (`FileContextBasedCheckpointFileManager`) pays ~29 ms of process
  * spawns per atomic write — most of a replay's per-batch commit time.
  * For a `file:` root the writes go through `java.nio` instead
  * ([[LocalCheckpointFileManager.Nio]]); any other root gets exactly
  * Spark's default manager. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  private val impl: CheckpointFileManager =
    if (path.getFileSystem(hadoopConf).getUri.getScheme == "file")
      new LocalCheckpointFileManager.Nio(path, hadoopConf)
    else LocalCheckpointFileManager.sparkDefault(path, hadoopConf)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFileManager {

  /** What `CheckpointFileManager.create` builds when no class is
    * configured. Built directly: `create` would read the configured
    * class and recurse into this one. */
  private def sparkDefault(path: Path, hadoopConf: Configuration): CheckpointFileManager =
    try new FileContextBasedCheckpointFileManager(path, hadoopConf)
    catch {
      case _: UnsupportedFileSystemException =>
        new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    }

  /** Spark's `FileSystem`-based manager with its write half on
    * `java.nio`: the temp file, the publishing rename and the mkdirs
    * start no process. `open`, `list`, `exists` and `delete` stay on
    * Hadoop's local `FileSystem`, which starts none either.
    *
    * The contract is the inherited rename-based stream's: the target
    * appears only on `close` (an atomic rename of a temp file in the
    * same directory), and `cancel` deletes the temp file. Without
    * overwrite, an existing target fails with Hadoop's
    * `FileAlreadyExistsException` — `HDFSMetadataLog` detects two
    * concurrent writers by it — and `link(2)` + `unlink` makes that
    * check atomic; the losing temp file is deleted too. Files written
    * here carry no `.crc` sidecar, so a publish deletes the target's
    * stale one; otherwise `ChecksumFileSystem` would verify the new
    * bytes against the old checksum. */
  private final class Nio(path: Path, hadoopConf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {
    private val bufferBytes = hadoopConf.getInt("io.file.buffer.size", 4096)

    private def local(p: Path) = Paths.get(fs.makeQualified(p).toUri)

    override def createTempFile(p: Path): FSDataOutputStream = {
      val f = local(p)
      Files.createDirectories(f.getParent)
      new FSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(f), bufferBytes), null)
    }

    override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit = {
      val (s, d) = (local(src), local(dst))
      val crc = d.resolveSibling(s".${d.getFileName}.crc")
      if (overwriteIfPossible) {
        // crc first: a reader in between sees the old bytes unverified
        Files.deleteIfExists(crc)
        Files.move(s, d, StandardCopyOption.ATOMIC_MOVE) // rename(2) replaces
      } else {
        try Files.createLink(d, s)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            Files.delete(s) // the caller's cancel is a no-op after close
            throw new FileAlreadyExistsException(s"$dst already exists")
        }
        Files.delete(s)
        Files.deleteIfExists(crc)
      }
    }

    override def mkdirs(p: Path): Unit = Files.createDirectories(local(p))

    override def createCheckpointDirectory(): Path = {
      val dir = fs.makeQualified(path)
      Files.createDirectories(local(dir))
      dir
    }
  }
}
