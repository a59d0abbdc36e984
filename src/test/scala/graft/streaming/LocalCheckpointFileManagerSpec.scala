package graft.streaming

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

/**
 * The java.nio checkpoint writer keeps Spark's atomic-write contract on
 * `file:` paths (invisible until close, nothing left by cancel, a
 * no-overwrite write refused with Hadoop's FileAlreadyExistsException),
 * reads back correctly over files Spark's default manager wrote with a
 * `.crc` sibling, and leaves every other filesystem to Spark's code path.
 */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def freshDir(): Path = new Path(graft.ScratchDirs.dir("graft-lcfm"))

  private def manager(dir: Path) = new LocalCheckpointFileManager(dir, conf)

  private def names(dir: Path): Set[String] = {
    val s = Files.list(Paths.get(dir.toUri.getPath))
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  private def readAll(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private def write(out: java.io.OutputStream, s: String): Unit = out.write(s.getBytes("UTF-8"))

  test("a file is invisible until close and holds the full bytes after it") {
    val dir = freshDir()
    val fm  = manager(dir)
    assert(fm.isLocal)
    val target = new Path(dir, "0")
    val out    = fm.createAtomic(target, overwriteIfPossible = false)
    write(out, "v1\n")
    write(out, "{\"batchWatermarkMs\":0}")
    assert(!fm.exists(target), "target must not be visible before close")
    out.close()
    assert(readAll(FileSystem.getLocal(conf), target) === "v1\n{\"batchWatermarkMs\":0}")
    assert(names(dir) === Set("0"), "the temp file is renamed away, no .crc is written")
  }

  test("cancel leaves neither the target nor a temp file") {
    val dir    = freshDir()
    val target = new Path(dir, "1")
    val out    = manager(dir).createAtomic(target, overwriteIfPossible = true)
    write(out, "partial")
    out.cancel()
    assert(names(dir).isEmpty)
  }

  test("with overwrite disallowed an existing target raises FileAlreadyExistsException") {
    val dir    = freshDir()
    val fm     = manager(dir)
    val target = new Path(dir, "2")
    val first  = fm.createAtomic(target, overwriteIfPossible = false)
    write(first, "first")
    first.close()
    val second = fm.createAtomic(target, overwriteIfPossible = false)
    write(second, "second")
    intercept[FileAlreadyExistsException](second.close())
    assert(readAll(FileSystem.getLocal(conf), target) === "first")
    assert(names(dir) === Set("2"), "the refused temp file is removed")
  }

  test("overwriting a file Spark's default manager wrote reads back the new bytes") {
    val dir    = freshDir()
    val target = new Path(dir, "3.delta")
    val legacy = new FileSystemBasedCheckpointFileManager(dir, conf)
    val old    = legacy.createAtomic(target, overwriteIfPossible = true)
    write(old, "old bytes, longer than the new ones")
    old.close()
    assert(names(dir) === Set("3.delta", ".3.delta.crc"), "the default manager writes a .crc")

    val out = manager(dir).createAtomic(target, overwriteIfPossible = true)
    write(out, "new bytes")
    out.close()
    // LocalFileSystem verifies reads against a .crc when one exists: a
    // stale one would fail this read with a ChecksumException
    assert(readAll(FileSystem.getLocal(conf), target) === "new bytes")
    assert(names(dir) === Set("3.delta"))
  }

  test("mkdirs and createCheckpointDirectory create nested local directories") {
    val dir = freshDir()
    val fm  = manager(new Path(dir, "ckpt/a"))
    val q   = fm.createCheckpointDirectory()
    assert(q.toUri.getScheme === "file")
    assert(Files.isDirectory(Paths.get(dir.toUri.getPath, "ckpt", "a")))
    fm.mkdirs(new Path(dir, "ckpt/state/0/1"))
    assert(Files.isDirectory(Paths.get(dir.toUri.getPath, "ckpt", "state", "0", "1")))
  }

  test("a non-file: path delegates every write to Spark's code path") {
    val c = new Configuration(conf)
    c.set("fs.countfs.impl", classOf[CountingLocalFs].getName)
    c.setBoolean("fs.countfs.impl.disable.cache", true)
    val dir = new Path("countfs://" + graft.ScratchDirs.dir("graft-lcfm-countfs"))
    val fm  = new LocalCheckpointFileManager(dir, c)
    CountingLocalFs.reset()
    fm.mkdirs(new Path(dir, "offsets"))
    val target = new Path(dir, "offsets/0")
    val out    = fm.createAtomic(target, overwriteIfPossible = false)
    write(out, "via hadoop")
    out.close()
    assert(CountingLocalFs.mkdirs.get() >= 1)
    assert(CountingLocalFs.creates.get() === 1)
    assert(CountingLocalFs.renames.get() === 1)
    assert(readAll(target.getFileSystem(c), target) === "via hadoop")
  }
}

/** A local filesystem under its own `countfs:` scheme that counts the
  * write-side calls Spark's checkpoint manager makes. */
class CountingLocalFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("countfs:///")

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    CountingLocalFs.mkdirs.incrementAndGet()
    super.mkdirs(f, permission)
  }

  override def create(
      f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    CountingLocalFs.creates.incrementAndGet()
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    CountingLocalFs.renames.incrementAndGet()
    super.rename(src, dst)
  }
}

object CountingLocalFs {
  val mkdirs  = new AtomicInteger
  val creates = new AtomicInteger
  val renames = new AtomicInteger
  def reset(): Unit = Seq(mkdirs, creates, renames).foreach(_.set(0))
}
