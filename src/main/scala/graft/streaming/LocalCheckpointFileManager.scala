package graft.streaming

import java.io.BufferedOutputStream
import java.nio.channels.{Channels, FileChannel}
import java.nio.file.{Files, StandardCopyOption,
  StandardOpenOption, FileAlreadyExistsException => NioExists, Path => NioPath}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException,
  FileStatus, FileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/**
 * Structured Streaming checkpoint store that serves local paths with
 * java.nio and hands every other file system to Spark's own choice.
 *
 * Hadoop's local file system without libhadoop shells out for metadata:
 * every FileContext rename forks `readlink` and every create or mkdir
 * forks `chmod`. The offset and commit logs, each state-store delta and
 * its checksum file, and the file sink's `_spark_metadata` log all commit
 * through a [[CheckpointFileManager]], so a micro-batch paid for dozens
 * of process starts. Here a local commit is a handful of syscalls:
 *  - `createAtomic` writes `.<name>.<uuid>.tmp` (Spark's temp naming) and
 *    fsyncs it on close;
 *  - an overwriting publish is an `ATOMIC_MOVE` rename; a no-overwrite
 *    publish is a hard link, which fails on an existing target with
 *    Hadoop's [[FileAlreadyExistsException]] (HDFSMetadataLog detects a
 *    concurrent writer by that class);
 *  - `open` and `list` read through the raw local file system, so files
 *    that Hadoop wrote with `.crc` sidecars still open, and `list` hides
 *    those sidecars as Hadoop's checksummed file system does.
 *
 * Spark's own checkpoint checksums (`N.delta.crc`) are written by the
 * wrapper Spark puts around this store, so they stay on.
 */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private val local: Boolean = Option(path.toUri.getScheme)
    .orElse(Option(FileSystem.getDefaultUri(hadoopConf).getScheme))
    .forall(_ == "file")

  /** Spark's default store for a non-local path: the same factory with
    * this class taken out of the configuration. */
  private lazy val delegate: CheckpointFileManager = {
    val conf = new Configuration(hadoopConf)
    conf.unset(ConfKey)
    CheckpointFileManager.create(path, conf)
  }

  private lazy val raw: RawLocalFileSystem =
    FileSystem.getLocal(hadoopConf).getRaw.asInstanceOf[RawLocalFileSystem]

  private def file(p: Path): NioPath = raw.pathToFile(p).toPath

  override def createAtomic(target: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream =
    if (local) {
      val dest = file(target)
      val tid = Option(TaskContext.get()).map(t => s".TID${t.taskAttemptId()}")
        .getOrElse("")
      val temp = dest.resolveSibling(
        s".${dest.getFileName}.${UUID.randomUUID()}$tid.tmp")
      new AtomicLocalStream(FileChannel.open(temp,
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE),
        temp, dest, overwriteIfPossible)
    } else delegate.createAtomic(target, overwriteIfPossible)

  override def open(p: Path): FSDataInputStream =
    if (local) raw.open(p) else delegate.open(p)

  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    if (local)
      raw.listStatus(p, (q: Path) => !isSidecar(q.getName) && filter.accept(q))
    else delegate.list(p, filter)

  override def mkdirs(p: Path): Unit =
    if (local) Files.createDirectories(file(p)) else delegate.mkdirs(p)

  override def exists(p: Path): Boolean =
    if (local) Files.exists(file(p)) else delegate.exists(p)

  /** Recursive; a missing path is not an error. A Hadoop sidecar of the
    * deleted file goes with it. */
  override def delete(p: Path): Unit =
    if (local) {
      raw.delete(p, true)
      Files.deleteIfExists(sidecar(file(p)))
    } else delegate.delete(p)

  override def isLocal: Boolean = local || delegate.isLocal

  override def createCheckpointDirectory(): Path =
    if (local) {
      val qualified = raw.makeQualified(path)
      Files.createDirectories(file(qualified))
      qualified
    } else delegate.createCheckpointDirectory()

  override def close(): Unit = if (!local) delegate.close()
}

object LocalCheckpointFileManager {

  /** Spark's key for the checkpoint store class
    * (`SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS`). */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Make this the session's checkpoint store unless the user chose one.
    * Idempotent; queries started afterwards pick it up. */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(ConfKey).isEmpty)
      spark.conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)

  /** Hadoop's checksum sidecar of `name` (ChecksumFileSystem naming). */
  private def isSidecar(name: String): Boolean =
    name.startsWith(".") && name.endsWith(".crc")

  private def sidecar(f: NioPath): NioPath =
    f.resolveSibling(s".${f.getFileName}.crc")

  /** Writes `temp`; `close` fsyncs and publishes it as `dest`, `cancel`
    * deletes it. Either way the stream is spent. */
  private final class AtomicLocalStream(channel: FileChannel, temp: NioPath,
                                        dest: NioPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Channels.newOutputStream(channel), 65536)) {
    private var done = false

    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        try {
          try { flush(); channel.force(true) }
          finally super.close()
          publish()
        } finally Files.deleteIfExists(temp)
      }
    }

    private def publish(): Unit = {
      try {
        if (overwrite) Files.move(temp, dest, StandardCopyOption.ATOMIC_MOVE)
        else Files.createLink(dest, temp)
      } catch {
        case _: NioExists =>
          throw new FileAlreadyExistsException(s"$dest already exists")
      }
      Files.deleteIfExists(sidecar(dest))
    }

    override def cancel(): Unit = synchronized {
      if (!done) {
        done = true
        try super.close() finally Files.deleteIfExists(temp)
      }
    }
  }
}
