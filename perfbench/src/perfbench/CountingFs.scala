package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local `FileSystem` with its stream and metadata calls counted.
  * Hadoop's local statistics count bytes but not operations, so every
  * run, traced or not, registers this class as `fs.file.impl`. */
class CountingLocalFileSystem extends LocalFileSystem {
  private def op[T](f: => T): T = { CountingLocalFileSystem.ops.incrementAndGet(); f }

  override def open(p: Path, bufferSize: Int): FSDataInputStream = op(super.open(p, bufferSize))
  override def create(p: Path, perm: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    op(super.create(p, perm, overwrite, bufferSize, replication, blockSize, progress))
  override def append(p: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream =
    op(super.append(p, bufferSize, progress))
  override def rename(src: Path, dst: Path): Boolean = op(super.rename(src, dst))
  override def delete(p: Path, recursive: Boolean): Boolean = op(super.delete(p, recursive))
  override def mkdirs(p: Path, perm: FsPermission): Boolean = op(super.mkdirs(p, perm))
  override def listStatus(p: Path): Array[FileStatus] = op(super.listStatus(p))
  override def getFileStatus(p: Path): FileStatus = op(super.getFileStatus(p))
}

object CountingLocalFileSystem {
  val ops = new AtomicLong
}
