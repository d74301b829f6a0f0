package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem with call counters, installed as `fs.file.impl`
  * on traced runs only. It counts the calls the table-format layer makes
  * (opens and stats, listings, creates/renames/deletes/mkdirs) so each
  * benchmark op can report how much filesystem work it caused. Counters
  * are process-global: ops run one at a time, so the delta across an op
  * is that op's work (driver and tasks together). */
class CountingFs extends LocalFileSystem {
  import CountingFs._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet(); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    reads.incrementAndGet(); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    if (f.getName.endsWith(".parquet")) parquetFiles.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet(); super.mkdirs(f, permission)
  }
}

object CountingFs {
  val reads = new AtomicLong
  val lists = new AtomicLong
  val writes = new AtomicLong
  val parquetFiles = new AtomicLong

  /** (read ops, list ops, write ops) so far. */
  def snapshot(): (Long, Long, Long) = (reads.get, lists.get, writes.get)

  /** Bytes written through the local filesystem so far (Hadoop's own
    * per-scheme statistics). */
  def bytesWritten(): Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesWritten"))).map(_.longValue).getOrElse(0L)
}
