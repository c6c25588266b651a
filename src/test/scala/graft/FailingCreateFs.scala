package graft

import java.io.{File, IOException}
import java.net.URI

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem under the `failfs:` scheme, whose create() throws
  * for files named with [[FailingCreateFs.failPrefix]] once armed — a
  * write-stage failure a spec can place on one output file. Before
  * throwing it waits (up to 30 s) for [[FailingCreateFs.waitFor]] to
  * exist, so the job has already published the file the failure must
  * clean up. Register with `fs.failfs.impl` (and disable its cache). */
final class FailingCreateFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("failfs:///")
  override def getScheme: String = "failfs"

  private def check(f: Path): Unit = FailingCreateFs.failPrefix.foreach { prefix =>
    if (f.getName.startsWith(prefix)) {
      val deadline = System.currentTimeMillis() + 30000
      while (FailingCreateFs.waitFor.exists(!_.exists()) && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      FailingCreateFs.fired = true
      throw new IOException(s"injected create failure: $f")
    }
  }

  override def create(
      f: Path, overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    check(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(
      f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    check(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FailingCreateFs {
  @volatile var failPrefix: Option[String] = None
  @volatile var waitFor: Option[File] = None
  @volatile var fired = false

  def arm(prefix: String, after: File): Unit = {
    fired = false
    waitFor = Some(after)
    failPrefix = Some(prefix)
  }

  def disarm(): Unit = { failPrefix = None; waitFor = None }
}
