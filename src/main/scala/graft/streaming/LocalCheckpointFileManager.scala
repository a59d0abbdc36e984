package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{FileSystemException, Files, StandardCopyOption, Path => NioPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/**
 * The checkpoint file manager graft registers for every stream
 * ([[graft.GraftSession.configure]] sets
 * `spark.sql.streaming.checkpointFileManagerClass`): Spark's
 * `FileSystemBasedCheckpointFileManager` with its four WRITE-side
 * operations (`createTempFile`, `renameTempFile`, `mkdirs`,
 * `createCheckpointDirectory`) done through java.nio on `file:` paths.
 *
 * Why: without libhadoop, Hadoop's `RawLocalFileSystem.setPermission`
 * forks a `chmod` process for every file it creates and every directory
 * it makes, and `LocalFileSystem.create` sets the permission on the file
 * and again on its `.crc` sibling. Each trigger writes an offsets file
 * and a commit file, and a stateful batch adds a state-store delta per
 * partition per operator, so on tmpfs a checkpoint file cost ~45 ms of
 * forks against ~0.1 ms for a java.nio write + rename — longer than a
 * 100 ms watch trigger spends on everything else.
 *
 * The protocol is Spark's own: `createAtomic` still returns Spark's
 * `RenameBasedFSDataOutputStream` (temp file, then rename on `close`,
 * temp deleted on `cancel`), so a file is never visible half-written.
 *  - overwrite allowed → `rename(2)` via `ATOMIC_MOVE`, after deleting the
 *    target's stale `.<name>.crc` (checkpoints written by Spark's default
 *    manager have one, and `LocalFileSystem.open` would check the new
 *    bytes against it);
 *  - overwrite disallowed → hard-link the temp file to the target, which
 *    fails atomically if the target exists; that maps to Hadoop's
 *    `FileAlreadyExistsException`, the signal `HDFSMetadataLog` reads as
 *    "another query is writing this checkpoint". A filesystem without
 *    hard links falls back to Spark's check-then-rename.
 *
 * Files written here have no `.crc` sibling; `LocalFileSystem` reads such
 * files unverified, as it reads any file without one. Reads, listings and
 * deletes stay Spark's (none of them forks), and every path whose
 * filesystem is not the stock `file:` one takes Spark's code path whole.
 */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  /** The java.nio view of a checkpoint path; `None` where Spark's code
    * path applies. */
  private val local: Option[Path => NioPath] =
    if (fs.getUri.getScheme != "file") None
    else fs match {
      case l: LocalFileSystem    => Some(p => l.pathToFile(p).toPath)
      case r: RawLocalFileSystem => Some(p => r.pathToFile(p).toPath)
      case _                     => None
    }

  override def createTempFile(tmp: Path): FSDataOutputStream = local match {
    case Some(nio) =>
      val p = nio(tmp)
      Files.createDirectories(p.getParent)
      new FSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(p)), null)
    case None => super.createTempFile(tmp)
  }

  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
    local match {
      case Some(nio) =>
        val (from, to) = (nio(src), nio(dst))
        if (overwriteIfPossible) {
          Files.deleteIfExists(to.resolveSibling(s".${to.getFileName}.crc"))
          Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
        } else {
          val linked =
            try { Files.createLink(to, from); true }
            catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                Files.deleteIfExists(from)
                throw new FileAlreadyExistsException(
                  s"Failed to rename $src to $dst as destination already exists")
              case _: UnsupportedOperationException | _: FileSystemException => false
            }
          if (linked) Files.delete(from) else super.renameTempFile(src, dst, overwriteIfPossible)
        }
      case None => super.renameTempFile(src, dst, overwriteIfPossible)
    }

  override def mkdirs(dir: Path): Unit = local match {
    case Some(nio) => Files.createDirectories(nio(dir))
    case None      => super.mkdirs(dir)
  }

  override def createCheckpointDirectory(): Path = local match {
    case Some(nio) =>
      val qualified = fs.makeQualified(path)
      Files.createDirectories(nio(qualified))
      qualified
    case None => super.createCheckpointDirectory()
  }
}
