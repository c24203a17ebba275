package graft

import java.net.URI
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.hadoop.fs.{ChecksumException, FSDataInputStream, FSInputStream, FileStatus, LocatedFileStatus, Path, RemoteIterator}

/** [[RenamelessFileSystem]] under its own scheme, with two probes:
  *
  *   - while [[ProbeFileSystem.recording]] is on, every status and listing
  *     call is recorded by path, so a spec can assert what planning a read
  *     asks of the store;
  *   - [[ProbeFileSystem.armChecksumFault]] makes the next read of a path
  *     ending with a suffix fail its checksum once — what Hadoop's
  *     checksummed local file system raises when a reader lands between
  *     the two renames of a file and its `.crc`.
  */
class ProbeFileSystem extends RenamelessFileSystem {
  import ProbeFileSystem._

  override def getScheme: String = Scheme
  override def getUri: URI = URI.create(s"$Scheme:///")

  override def getFileStatus(f: Path): FileStatus = {
    record(f); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    record(f); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    record(f); super.listLocatedStatus(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    checksumSuffix match {
      case Some(sfx) if f.toUri.getPath.endsWith(sfx) =>
        checksumSuffix = None // one-shot
        new FSDataInputStream(new FSInputStream {
          override def read(): Int =
            throw new ChecksumException(s"Checksum error: $f at 0", 0L)
          override def seek(pos: Long): Unit = ()
          override def getPos: Long = 0L
          override def seekToNewSource(targetPos: Long): Boolean = false
        })
      case _ => super.open(f, bufferSize)
    }
}

object ProbeFileSystem {
  val Scheme = "probefs"

  @volatile var recording = false
  val calls = new ConcurrentLinkedQueue[String]()
  @volatile private var checksumSuffix: Option[String] = None

  private def record(f: Path): Unit = if (recording) calls.add(f.toUri.getPath)

  /** Paths of the status/listing calls `body` made. */
  def recorded[T](body: => T): (T, Seq[String]) = {
    calls.clear()
    recording = true
    val out = try body finally recording = false
    val b = Seq.newBuilder[String]
    calls.forEach(c => b += c)
    (out, b.result())
  }

  def armChecksumFault(suffix: String): Unit = checksumSuffix = Some(suffix)
  def checksumFaultPending: Boolean = checksumSuffix.isDefined
}
