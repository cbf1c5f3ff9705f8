package snapbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system with metadata and open/create calls counted.
  * Hadoop's local FS statistics count bytes but not operations, so traced
  * runs install this as `fs.file.impl` to count the calls a layer makes. */
class CountingFs extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingFs.reads.incrementAndGet(); super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingFs.reads.incrementAndGet(); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    CountingFs.reads.incrementAndGet(); super.getFileStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    CountingFs.writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    CountingFs.writes.incrementAndGet(); super.delete(f, recursive)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    CountingFs.writes.incrementAndGet(); super.rename(src, dst)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    CountingFs.writes.incrementAndGet(); super.mkdirs(f, permission)
  }
}

object CountingFs {
  val reads = new AtomicLong
  val writes = new AtomicLong
}
