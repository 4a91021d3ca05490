package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem
import org.apache.hadoop.util.Progressable

/** Operation counters for the local filesystem. Hadoop's RawLocalFileSystem
  * counts bytes but no operations, so the traced run installs
  * [[CountingLocalFileSystem]] as `fs.file.impl`. Untraced runs get the
  * class Hadoop's service loader registers last for `file:` — on Spark's
  * bundled jars Hive's `ProxyLocalFileSystem`, a checksummed
  * `LocalFileSystem` without fsync whose rename refuses an existing
  * target file — so the counting class is that class with the raw
  * filesystem underneath swapped for one that counts every namespace
  * read, open and mutation, `.crc` companions included. */
object FsOps {
  val list = new AtomicLong   // listStatus + getFileStatus
  val read = new AtomicLong   // open
  val write = new AtomicLong  // create, mkdirs, rename, delete, append, setTimes

  def snapshot(): (Long, Long, Long) = (list.get, read.get, write.get)
}

class CountingRawLocalFileSystem extends RawLocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = { FsOps.list.incrementAndGet(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { FsOps.list.incrementAndGet(); super.getFileStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { FsOps.read.incrementAndGet(); super.open(f, bufferSize) }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FsOps.write.incrementAndGet(); super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FsOps.write.incrementAndGet(); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FsOps.write.incrementAndGet(); super.createNonRecursive(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream = {
    FsOps.write.incrementAndGet(); super.append(f, bufferSize, progress)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { FsOps.write.incrementAndGet(); super.mkdirs(f, permission) }
  override def rename(src: Path, dst: Path): Boolean = { FsOps.write.incrementAndGet(); super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean = { FsOps.write.incrementAndGet(); super.delete(p, recursive) }
  override def setTimes(p: Path, mtime: Long, atime: Long): Unit = { FsOps.write.incrementAndGet(); super.setTimes(p, mtime, atime) }
}

class CountingLocalFileSystem extends ProxyLocalFileSystem {
  fs = new CountingRawLocalFileSystem
}
