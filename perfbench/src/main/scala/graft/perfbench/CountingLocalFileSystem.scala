package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The raw local file system, counting the metadata and open/create calls
  * the benchmark's driver thread makes (the local file system keeps no
  * operation statistics of its own). Installed as `fs.file.impl` in the
  * traced run only. Calls from other threads (Spark tasks, the serving
  * query's offset polling) are not counted, so the count repeats exactly
  * from run to run. */
class CountingLocalFileSystem extends RawLocalFileSystem {
  import CountingLocalFileSystem.tick

  override def open(f: Path, bufferSize: Int): FSDataInputStream = { tick(); super.open(f, bufferSize) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    tick(); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { tick(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { tick(); super.delete(f, recursive) }
  override def listStatus(f: Path): Array[FileStatus] = { tick(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { tick(); super.getFileStatus(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { tick(); super.mkdirs(f, permission) }
}

object CountingLocalFileSystem {
  @volatile var driver: Thread = null
  val ops = new AtomicLong

  private def tick(): Unit = if (Thread.currentThread() eq driver) ops.incrementAndGet()
}
