package graft

import java.io.{ByteArrayOutputStream, IOException, OutputStream}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system with one injected failure, for crash specs. A
  * session uses it once its conf sets `fs.file.impl` to this class and
  * `fs.file.impl.disable.cache` to true; every Hadoop configuration the
  * session hands out (driver and tasks) then makes a new instance, so
  * the fault plan lives in the companion object.
  *
  *  - [[FaultInjectingFs.failAt]]`(n)`: the n-th create, rename, delete
  *    or mkdirs, counted across all instances, throws instead of
  *    running — a crash just before that step.
  *  - [[FaultInjectingFs.cutManifest]]`(k)`: the next file created
  *    under a name starting with `_manifest` keeps only its first k
  *    lines, and its close throws — a crash part-way through that
  *    write. */
class FaultInjectingFs extends LocalFileSystem {
  import FaultInjectingFs._

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    step("create", f)
    val out = super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
    val keep = if (f.getName.startsWith("_manifest")) keepLines.getAndSet(-1) else -1
    if (keep < 0) out else new FSDataOutputStream(new CutAfterLines(out, keep), null)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    step("rename", src); super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    step("delete", f); super.delete(f, recursive)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    step("mkdirs", f); super.mkdirs(f, permission)
  }
}

object FaultInjectingFs {
  private val steps = new AtomicInteger(0)
  @volatile private var failing = 0
  @volatile private var firedAt = ""
  private val keepLines = new AtomicInteger(-1)

  /** Fail the n-th step from now on (n ≥ 1). */
  def failAt(n: Int): Unit = { steps.set(0); firedAt = ""; failing = n }

  /** Cut the next `_manifest*` file after `k` lines. */
  def cutManifest(k: Int): Unit = keepLines.set(k)

  /** The failed step (`op path`), or "" while none has failed. */
  def fired: String = firedAt

  def disarm(): Unit = { failing = 0; keepLines.set(-1) }

  private def step(op: String, p: Path): Unit =
    if (failing > 0 && steps.incrementAndGet() == failing) {
      firedAt = s"$op $p"
      throw new IOException(s"injected failure at step $failing: $op $p")
    }

  private final class CutAfterLines(out: OutputStream, k: Int) extends OutputStream {
    private val buf = new ByteArrayOutputStream()
    override def write(b: Int): Unit = buf.write(b)
    override def write(b: Array[Byte], off: Int, len: Int): Unit = buf.write(b, off, len)
    override def close(): Unit = {
      val lines = buf.toString("UTF-8").split("\n", -1).take(k)
      out.write(lines.mkString("\n").getBytes("UTF-8"))
      out.close()
      throw new IOException(s"injected failure after $k manifest lines")
    }
  }
}
