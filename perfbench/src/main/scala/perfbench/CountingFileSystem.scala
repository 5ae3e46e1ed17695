package perfbench

import java.util.EnumSet
import java.util.concurrent.atomic.LongAdder

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system with per-call counters, installed for `file:`
  * paths in traced runs (`spark.hadoop.fs.file.impl`).  Hadoop's own
  * statistics count bytes for the local file system but not operations, and
  * the commit protocol's cost is mostly operations: listings, status
  * probes, opens, creates, renames.  Reads: open, listStatus,
  * getFileStatus.  Writes: create, createNonRecursive, append, rename,
  * delete, mkdirs. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = { reads.increment(); super.open(f, bufferSize) }
  override def listStatus(f: Path): Array[FileStatus] = { reads.increment(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { reads.increment(); super.getFileStatus(f) }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.increment(); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission, flags: EnumSet[CreateFlag],
                                  bufferSize: Int, replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    writes.increment()
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }
  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream = {
    writes.increment(); super.append(f, bufferSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { writes.increment(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { writes.increment(); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { writes.increment(); super.mkdirs(f, permission) }
}

object CountingFileSystem {
  val reads = new LongAdder
  val writes = new LongAdder
}
