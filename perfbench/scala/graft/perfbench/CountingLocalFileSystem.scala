package graft.perfbench

import java.util.EnumSet
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem, counting its read, write and metadata calls.
  * Hadoop's local filesystem counts bytes in `FileSystem.Statistics` but
  * no operations, so the traced run counts them here: per JVM and per
  * calling thread. Installed for traced runs only, through
  * `spark.hadoop.fs.file.impl`; every call is forwarded unchanged. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem.count

  override def getFileStatus(f: Path): FileStatus = { count(); super.getFileStatus(f) }
  override def listStatus(f: Path): Array[FileStatus] = { count(); super.listStatus(f) }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    count(); super.listLocatedStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    count(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    count()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    count()
    super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress)
  }
  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream = {
    count(); super.append(f, bufferSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { count(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    count(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    count(); super.mkdirs(f, permission)
  }
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    count(); super.setPermission(p, permission)
  }
  override def setTimes(p: Path, mtime: Long, atime: Long): Unit = {
    count(); super.setTimes(p, mtime, atime)
  }
}

object CountingLocalFileSystem {
  private val all = new java.util.concurrent.atomic.LongAdder
  private val mine = new ThreadLocal[Array[Long]] {
    override def initialValue(): Array[Long] = Array(0L)
  }
  private def count(): Unit = { all.increment(); mine.get()(0) += 1 }

  /** Calls by every thread so far. */
  def global: Long = all.sum
  /** Calls by the current thread so far. */
  def thread: Long = mine.get()(0)
}
