package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.nio.file.{Files, NoSuchFileException, StandardOpenOption, Path => NioPath}
import java.nio.file.attribute.BasicFileAttributes

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

import graft.operators.{PosixCommitStore, WriterToken}

/** The checkpoint file manager graft's streams run on (set by
  * [[Topology.streamingSession]]): Structured Streaming's offset log,
  * commit log and state-store files commit through the same POSIX
  * primitive as graft's own control plane, [[PosixCommitStore.publish]].
  *
  * Why: on a host without libhadoop, Spark's default
  * `FileContextBasedCheckpointFileManager` forks a `readlink` for every
  * rename and a `chmod` for every create, so one word-count trigger
  * paid more for forking than for counting. Here a `file:` path never
  * forks:
  *  - `createAtomic` streams into a hidden same-directory staging file
  *    `.<name>.tmp-<token>`; Spark's listers (the metadata log's batch
  *    filter, the state provider's file scan and its maintenance
  *    thread) skip dot-prefixed names, and the name still matches
  *    [[PosixCommitStore.isStagingName]].
  *  - `close()` publishes it: put-if-absent through `link(2)` when the
  *    caller must not overwrite, raising Hadoop's
  *    `FileAlreadyExistsException` on a loss (the metadata log maps it
  *    to its concurrent-writer error, which fences a zombie query), or
  *    an atomic rename that replaces. `cancel()` publishes nothing.
  *  - reads go through the raw local FS and listings through
  *    java.nio, so a checkpoint written by the default manager (with
  *    Hadoop `.<name>.crc` sidecars) reads and restarts here: listings
  *    hide the sidecars as the default manager's `LocalFs` does, and a
  *    replace drops the stale sidecar first, so the default manager
  *    can read the checkpoint again afterwards.
  * Spark's own checkpoint checksums stay on: `ChecksumCheckpointFileManager`
  * wraps whichever manager is set. Other schemes (`hdfs:`, `s3a:`, …)
  * get exactly the manager Spark would pick without this one.
  *
  * Not `FileSystemBasedCheckpointFileManager`: its non-overwrite path
  * checks for the file and then renames, and a local rename replaces,
  * so two writers could both win one offset entry.
  */
final class GraftCheckpointFileManager(path: Path, conf: Configuration)
    extends CheckpointFileManager {

  private val impl: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if ("file".equalsIgnoreCase(scheme)) new PosixCheckpointFileManager(path, conf)
    else {
      val c = new Configuration(conf)
      c.unset(GraftCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, c)
    }
  }

  def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  def open(p: Path): FSDataInputStream = impl.open(p)
  def list(p: Path, filter: PathFilter): Array[FileStatus] = impl.list(p, filter)
  def mkdirs(p: Path): Unit = impl.mkdirs(p)
  def exists(p: Path): Boolean = impl.exists(p)
  def delete(p: Path): Unit = impl.delete(p)
  def isLocal: Boolean = impl.isLocal
  def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object GraftCheckpointFileManager {
  /** Spark's session conf key that selects the checkpoint manager. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"
}

/** The `file:` half of [[GraftCheckpointFileManager]]. */
private final class PosixCheckpointFileManager(root: Path, conf: Configuration)
    extends CheckpointFileManager {

  private val raw = {
    val fs = new RawLocalFileSystem()
    fs.initialize(java.net.URI.create("file:///"), conf)
    fs
  }

  private def nio(p: Path): NioPath = raw.pathToFile(p).toPath.toAbsolutePath

  /** Hadoop's checksum sidecar of `file`, as the default manager's
    * `LocalFs` writes it.
    */
  private def sidecar(file: NioPath): NioPath =
    file.resolveSibling("." + file.getFileName + ".crc")

  private def isSidecar(name: String): Boolean =
    name.startsWith(".") && name.endsWith(".crc")

  def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val target = nio(p)
    Files.createDirectories(target.getParent)
    val staging = target.resolveSibling(
      "." + target.getFileName + ".tmp-" + WriterToken.next())
    new StagedOutputStream(staging, target, overwriteIfPossible)
  }

  /** Streams into `staging` (never buffering the whole file: state
    * snapshots are state-sized) and publishes it on `close()`.
    */
  private final class StagedOutputStream(staging: NioPath, target: NioPath,
                                         replace: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(staging, StandardOpenOption.CREATE_NEW), 1 << 16)) {
    private var done = false

    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        try super.close()
        catch { case e: Throwable => Files.deleteIfExists(staging); throw e }
        // drop the stale sidecar BEFORE the swap: a crash between the
        // two leaves the old bytes unchecked, never the new bytes
        // checked against the old sum
        if (replace) Files.deleteIfExists(sidecar(target))
        if (!PosixCommitStore.publish(staging, target, replace))
          throw new FileAlreadyExistsException(s"$target already exists")
      }
    }

    def cancel(): Unit = synchronized {
      if (!done) {
        done = true
        try underlyingStream.close()
        finally Files.deleteIfExists(staging)
      }
    }
  }

  def open(p: Path): FSDataInputStream = raw.open(p)

  def list(p: Path, filter: PathFilter): Array[FileStatus] = {
    import scala.jdk.CollectionConverters._
    val dir = nio(p)
    val qualified = raw.makeQualified(p)
    val ds = try Files.newDirectoryStream(dir)
    catch { case _: NoSuchFileException => throw new FileNotFoundException(s"$p does not exist") }
    try ds.iterator().asScala.flatMap { child =>
      val name = child.getFileName.toString
      val hp = new Path(qualified, name)
      if (isSidecar(name) || !filter.accept(hp)) None
      else
        try {
          val a = Files.readAttributes(child, classOf[BasicFileAttributes])
          Some(new FileStatus(a.size, a.isDirectory, 1, raw.getDefaultBlockSize(hp),
            a.lastModifiedTime.toMillis, hp))
        } catch { case _: NoSuchFileException => None } // deleted since the listing
    }.toArray
    finally ds.close()
  }

  def mkdirs(p: Path): Unit = { Files.createDirectories(nio(p)); () }

  def exists(p: Path): Boolean = Files.exists(nio(p))

  def delete(p: Path): Unit = {
    val file = nio(p)
    graft.IndexLifecycle.deleteRecursively(file.toString)
    Files.deleteIfExists(sidecar(file))
    ()
  }

  def isLocal: Boolean = true

  def createCheckpointDirectory(): Path = {
    mkdirs(root)
    raw.makeQualified(root)
  }
}
