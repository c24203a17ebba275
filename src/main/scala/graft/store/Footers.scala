package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

/** THE driver-side parquet footer reader: row counts, per-file column
  * bounds and schema probes all open footers through [[read]], never a
  * Spark job. A footer is one small ranged read at the end of the file;
  * every call opens its files on one fixed pool, so a compaction-sized
  * listing is a few rounds of parallel reads rather than a serial chain
  * of round trips. */
private[graft] object Footers {

  private lazy val pool = ExecutionContext.fromExecutorService(
    java.util.concurrent.Executors.newFixedThreadPool(8, (r: Runnable) => {
      val t = new Thread(r, "graft-footers")
      t.setDaemon(true)
      t
    }))

  /** `f` over each file's footer, in `files` order. The statuses' lengths
    * are trusted (no status call per file). */
  def read[T](conf: Configuration, files: Seq[FileStatus])(
      f: ParquetMetadata => T): Seq[T] = {
    def one(st: FileStatus): T = {
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try f(r.getFooter) finally r.close()
    }
    implicit val ec: ExecutionContext = pool
    Await.result(Future.traverse(files)(st => Future(one(st))), Duration.Inf)
  }

  def rows(footer: ParquetMetadata): Long =
    footer.getBlocks.asScala.iterator.map(_.getRowCount).sum

  /** Every `.parquet` file at or under `path` (a file or a directory). */
  def parquetLeaves(conf: Configuration, path: String): Seq[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(leaves)
      else if (st.getPath.getName.endsWith(".parquet")) Seq(st)
      else Seq.empty
    leaves(fs.getFileStatus(root))
  }

  /** Exact row count of the parquet data at or under `path`. */
  def rowCount(conf: Configuration, path: String): Long =
    read(conf, parquetLeaves(conf, path))(rows).sum
}
