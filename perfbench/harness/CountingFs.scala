package perfbench

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem, counting metadata, open and create calls per
  * calling thread, as HDFS counts operations: Hadoop's local filesystem
  * counts only bytes, which would leave the store layer's read and write
  * operation counts at zero. Installed as the `file:` scheme for every
  * run, so traced and untraced runs use the same filesystem.
  */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem.counts
  private def read(): Unit = counts.get()(0) += 1
  private def write(): Unit = counts.get()(1) += 1

  override def open(f: Path, bufferSize: Int): FSDataInputStream = { read(); super.open(f, bufferSize) }
  override def getFileStatus(f: Path): FileStatus = { read(); super.getFileStatus(f) }
  override def listStatus(f: Path): Array[FileStatus] = { read(); super.listStatus(f) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    write(); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { write(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { write(); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { write(); super.mkdirs(f, permission) }
}

object CountingLocalFileSystem {
  private val counts = ThreadLocal.withInitial[Array[Long]](() => new Array[Long](2))

  /** (read ops, write ops) issued on the calling thread so far. */
  def threadOps(): (Long, Long) = { val c = counts.get(); (c(0), c(1)) }
}
