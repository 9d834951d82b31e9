package graft

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Test double for a cloud object store: a Hadoop FileSystem registered
  * under its own `graftfs://` scheme, delegating to the local disk with
  * path re-scheming in both directions (exactly what a real connector
  * does over HTTP). Routing `uploadIfRemote` and a distributed parquet
  * write through it proves the scheme-dispatch path beyond `file://` —
  * i.e. that an s3a/gs/abfs destination only needs its connector jar on
  * the classpath, with no code changes (reference
  * `core/upload.py:268-420`).
  */
class GraftTestFileSystem extends FileSystem {
  private val local = new RawLocalFileSystem()
  private var wd = new Path("graftfs:///tmp")

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    local.initialize(URI.create("file:///"), conf)
  }

  override def getScheme: String = "graftfs"
  override def getUri: URI = URI.create("graftfs:///")

  private def toLocal(p: Path): Path =
    new Path("file", null, p.toUri.getPath)

  private def fromLocal(s: FileStatus): FileStatus =
    // materialize every lazy field (permission loads while the path is
    // still file://), then re-scheme the path
    new FileStatus(s.getLen, s.isDirectory, s.getReplication,
      s.getBlockSize, s.getModificationTime, s.getAccessTime,
      s.getPermission, s.getOwner, s.getGroup,
      new Path("graftfs", null, s.getPath.toUri.getPath))

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    GraftTestFileSystem.opened.add(f.toUri.getPath)
    local.open(toLocal(f), bufferSize)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    local.create(toLocal(f), permission, overwrite, bufferSize, replication,
      blockSize, progress)

  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream =
    local.append(toLocal(f), bufferSize, progress)

  override def rename(src: Path, dst: Path): Boolean =
    local.rename(toLocal(src), toLocal(dst))

  override def delete(f: Path, recursive: Boolean): Boolean =
    local.delete(toLocal(f), recursive)

  override def listStatus(f: Path): Array[FileStatus] =
    local.listStatus(toLocal(f)).map(fromLocal)

  override def setWorkingDirectory(dir: Path): Unit = { wd = dir }
  override def getWorkingDirectory: Path = wd

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    local.mkdirs(toLocal(f), permission)

  override def getFileStatus(f: Path): FileStatus =
    fromLocal(local.getFileStatus(toLocal(f)))
}

object GraftTestFileSystem {
  /** Local path of every file opened through the scheme, in call order;
    * tests filter it by their own directory.
    */
  val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def opensUnder(dir: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    opened.asScala.toSeq.filter(_.startsWith(dir))
  }
}
