package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local FileSystem with operation counts. Hadoop's raw local
  * FileSystem counts bytes but no operations, so traced runs register
  * this class for the `file` scheme (`spark.hadoop.fs.file.impl`) to see
  * the opens, creates, renames, deletes and mkdirs of Spark's readers
  * and writers and of `io.LayoutFs`.
  */
class CountingLocalFs extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingLocalFs.reads.incrementAndGet(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    CountingLocalFs.writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    CountingLocalFs.writes.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    CountingLocalFs.writes.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    CountingLocalFs.writes.incrementAndGet(); super.mkdirs(f, permission)
  }
}

object CountingLocalFs {
  /** Opens for reading. */
  val reads = new AtomicLong(0L)
  /** Creates, renames, deletes and mkdirs. */
  val writes = new AtomicLong(0L)
}
