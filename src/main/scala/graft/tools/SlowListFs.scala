package graft.tools

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Dev scaffolding for the DirScale remote-listing row (round-17,
  * VERDICT r16 #6): a Hadoop FileSystem under its own `graftslow://`
  * scheme delegating to local disk with a configurable LATENCY injected
  * into every `listStatus`/`getFileStatus` call — the cost shape of a
  * remote object-store listing (per-request round trip) without needing
  * network egress. `graft.slowfs.list.ms` (Hadoop conf) sets the
  * per-call sleep; 0 disables. The per-first-level-directory fan-out of
  * `Footer`'s listing walk should turn an O(dirs × latency) serial
  * stall into ~O(dirs × latency / 32).
  */
class SlowListFs extends FileSystem {
  private val local = new RawLocalFileSystem()
  private var wd = new Path("graftslow:///tmp")
  private var listMs = 0L

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    listMs = conf.getLong("graft.slowfs.list.ms", 0L)
    local.initialize(URI.create("file:///"), conf)
  }

  override def getScheme: String = "graftslow"
  override def getUri: URI = URI.create("graftslow:///")

  private def toLocal(p: Path): Path =
    new Path("file", null, p.toUri.getPath)

  private def fromLocal(s: FileStatus): FileStatus =
    // deliberately does NOT touch s.getPermission: RawLocalFileStatus
    // loads permissions through an `ls` subprocess per file (~6.5 ms,
    // JVM-serialized) — exactly the local pathology the NIO path dodges
    // — and a remote listing carries permissions inline anyway. The
    // injected listStatus latency should be the ONLY per-call cost.
    new FileStatus(s.getLen, s.isDirectory, s.getReplication,
      s.getBlockSize, s.getModificationTime,
      new Path("graftslow", null, s.getPath.toUri.getPath))

  private def lag(): Unit = if (listMs > 0) Thread.sleep(listMs)

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    local.open(toLocal(f), bufferSize)

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

  override def listStatus(f: Path): Array[FileStatus] = {
    lag()
    local.listStatus(toLocal(f)).map(fromLocal)
  }

  override def setWorkingDirectory(dir: Path): Unit = { wd = dir }
  override def getWorkingDirectory: Path = wd

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    local.mkdirs(toLocal(f), permission)

  override def getFileStatus(f: Path): FileStatus = {
    lag()
    fromLocal(local.getFileStatus(toLocal(f)))
  }
}
