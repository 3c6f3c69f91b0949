package graft.streaming

import java.io.{BufferedOutputStream, File, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, LinkOption, NoSuchFileException, Path => NioPath}
import java.nio.file.StandardCopyOption.ATOMIC_MOVE
import java.nio.file.StandardOpenOption.{CREATE_NEW, WRITE}
import java.nio.file.attribute.BasicFileAttributes
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.Using
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter, RawLocalFileSystem, UnsupportedFileSystemException}
import org.apache.spark.TaskContext
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/**
 * The streaming-checkpoint file manager for `file:` checkpoint dirs: the
 * offsets, commits and source logs on the driver and the state-store
 * files (RocksDB changelogs and snapshots) inside task commit, served
 * through java.nio. Any other scheme goes to Spark's default manager
 * (`FileContextBasedCheckpointFileManager`, or the `FileSystem`-based one
 * where the scheme has no `FileContext` binding, as Spark chooses); a path
 * with no scheme resolves against `fs.defaultFS`.
 *
 * Why: without libhadoop, Hadoop's local file system forks a process for
 * every checkpoint file the default manager writes — `readlink` from
 * `FileContext.rename` (`RawLocalFileSystem.getFileLinkStatus`) and
 * `chmod` for each file and directory it creates. This manager forks
 * nothing.
 *
 * Contract, as the default keeps it:
 *   - `createAtomic` writes Spark's hidden temp `.<name>.<uuid>.tmp` in the
 *     target dir. `close` publishes it with an atomic rename when it may
 *     overwrite; otherwise with a hard link (the lake log's fence), so an
 *     existing file raises Hadoop's `FileAlreadyExistsException`, which
 *     `HDFSMetadataLog` reports as two queries on one checkpoint. `cancel`
 *     deletes the temp and never publishes.
 *   - no fsync on close and no `.crc` sidecars. `list` hides the
 *     `.<name>.crc` sidecars a checkpoint written by the default manager
 *     carries, and `delete` and an overwrite remove a stale one, so such a
 *     checkpoint resumes here. Checksums on state files stay with Spark's
 *     `ChecksumCheckpointFileManager`, which wraps this manager.
 *   - `list` of a missing dir throws `FileNotFoundException`; `delete` of
 *     a missing path is a no-op; `open` reads through Hadoop's raw local
 *     file system, which forks nothing.
 *
 * Selected by Spark's own key, [[LocalCheckpointFileManager.Conf]]: set by
 * `graft.GraftSession` and by `MediationApp.start` when the caller's
 * session names no manager. Do not swap Hadoop's local `FileSystem`
 * (`fs.file.impl`) instead: that is JVM-wide, and `FileContext.rename`
 * still forks `readlink` through it.
 */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private val impl: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") new LocalCheckpointFileManager.NioFiles(path, hadoopConf)
    else try new FileContextBasedCheckpointFileManager(path, hadoopConf)
    catch {
      case _: UnsupportedFileSystemException =>
        new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    }
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
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

  /** Spark's key for the checkpoint file manager class, and this class. */
  val Conf: (String, String) =
    "spark.sql.streaming.checkpointFileManagerClass" -> classOf[LocalCheckpointFileManager].getName

  /** `.<name>.crc`, the sidecar Hadoop's `ChecksumFs` keeps next to a file. */
  private def isSidecar(name: String): Boolean = name.startsWith(".") && name.endsWith(".crc")
  private def sidecar(f: NioPath): NioPath = f.resolveSibling(s".${f.getFileName}.crc")

  private final class NioFiles(path: Path, hadoopConf: Configuration)
      extends CheckpointFileManager {

    private lazy val raw = {
      val fs = new RawLocalFileSystem()
      fs.initialize(URI.create("file:///"), hadoopConf)
      fs
    }
    // what RawLocalFileSystem reports as every local file's block size
    private val blockSize = hadoopConf.getLong("fs.local.block.size", 32L * 1024 * 1024)

    private def local(p: Path): NioPath = new File(p.toUri.getPath).getAbsoluteFile.toPath
    private def qualified(f: NioPath): Path = new Path("file", null, f.toString)

    override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val dst = local(p)
      val tid = Option(TaskContext.get).fold("")(tc => s".TID${tc.taskAttemptId}")
      Files.createDirectories(dst.getParent)
      new AtomicStream(dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID}$tid.tmp"),
        dst, overwriteIfPossible)
    }

    override def open(p: Path): FSDataInputStream = raw.open(p)

    override def list(p: Path, filter: PathFilter): Array[FileStatus] = {
      val dir = local(p)
      val base = qualified(dir)
      val listing =
        try Files.newDirectoryStream(dir)
        catch { case _: NoSuchFileException => throw new FileNotFoundException(s"$p does not exist") }
      Using.resource(listing) { entries =>
        entries.asScala.iterator.flatMap { f =>
          val name = f.getFileName.toString
          val q = new Path(base, name)
          if (isSidecar(name) || !filter.accept(q)) None
          // a file deleted since the listing is skipped, as Hadoop does
          else try Some(status(Files.readAttributes(f, classOf[BasicFileAttributes]), q))
          catch { case _: NoSuchFileException => None }
        }.toArray
      }
    }

    private def status(a: BasicFileAttributes, q: Path): FileStatus =
      new FileStatus(a.size, a.isDirectory, 1, blockSize, a.lastModifiedTime.toMillis, q)

    override def mkdirs(p: Path): Unit = Files.createDirectories(local(p))

    override def exists(p: Path): Boolean = Files.exists(local(p))

    override def delete(p: Path): Unit = {
      val f = local(p)
      deleteTree(f)
      Files.deleteIfExists(sidecar(f))
    }

    private def deleteTree(f: NioPath): Unit = {
      if (Files.isDirectory(f, LinkOption.NOFOLLOW_LINKS))
        Using.resource(Files.list(f))(_.iterator.asScala.toList).foreach(deleteTree)
      Files.deleteIfExists(f)
    }

    override def isLocal: Boolean = true

    override def createCheckpointDirectory(): Path = {
      mkdirs(path)
      qualified(local(path))
    }
  }

  /** Writes `tmp`; `close` publishes it as `dst`, `cancel` drops it. */
  private final class AtomicStream(tmp: NioPath, dst: NioPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(
        new BufferedOutputStream(Files.newOutputStream(tmp, CREATE_NEW, WRITE))) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          underlyingStream.close()
          if (overwrite) {
            Files.deleteIfExists(sidecar(dst))
            Files.move(tmp, dst, ATOMIC_MOVE)
          } else {
            try Files.createLink(dst, tmp)
            catch {
              case e: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$dst already exists").initCause(e)
            }
          }
        } finally Files.deleteIfExists(tmp) // after a link or a failure
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close() catch { case NonFatal(_) => }
        try Files.deleteIfExists(tmp) catch { case NonFatal(_) => }
      }
    }
  }
}
