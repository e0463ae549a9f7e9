package graft.ocsf

import java.io.IOException
import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Test-only Hadoop filesystem for exhaustive crash injection
  * (IdempotentSinkSpec's hand-picked cut points generalized to EVERY
  * mutation-op boundary — SinkCrashMatrixSpec).
  *
  * Registered under the `faultfs` scheme via
  * `fs.faultfs.impl = graft.ocsf.FaultFs` in the test session's Hadoop
  * conf, so `Path("faultfs:/tmp/x").getFileSystem(conf)` — the exact
  * call the production sink makes — returns this class with ZERO
  * production-code hooks. It delegates everything to the local
  * filesystem and counts MUTATING ops (create / rename / delete /
  * mkdirs, the ops whose boundaries define the sink's crash windows);
  * once the armed budget is exceeded every further mutation throws
  * [[FaultFs.InjectedCrash]] — modeling a hard crash where all
  * subsequent IO fails, not just one op. Reads are never failed (a
  * reader racing the crash is a separate, already-specced concern),
  * but the commit-log reads — each LIST of a `_committed_batches` dir
  * and each open of a `*.manifest` — are logged for
  * [[CommitLogReadsSpec]], and every call, metadata reads (`exists`,
  * `getFileStatus`, `listStatus`, `open`) and `setPermission` beside
  * the counted mutations, for [[CommitCallsSpec]].
  *
  * The counter is JVM-global on purpose: in local mode the driver and
  * every executor thread share it, so a budget of k crashes the
  * whole attempt at its k-th mutation wherever that op runs —
  * including inside Spark's parquet commit protocol during STAGE. */
class FaultFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("faultfs:///")
  override def getScheme: String = "faultfs"

  // RawLocalFileSystem's lazy permission loading calls new File(uri),
  // which rejects any scheme but file: — return eager statuses instead
  // (the NonAtomicRenameFs workaround)
  override def listStatus(f: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    FaultFs.call("listStatus", f)
    if (f.getName == "_committed_batches") FaultFs.read("list", f)
    super.listStatus(f).map { s =>
      new org.apache.hadoop.fs.FileStatus(s.getLen, s.isDirectory,
        s.getReplication, s.getBlockSize, s.getModificationTime,
        s.getAccessTime, FsPermission.getFileDefault, "test", "test",
        s.getPath)
    }
  }

  override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    FaultFs.call("open", f)
    if (f.getName.endsWith(".manifest")) FaultFs.read("open", f)
    super.open(f, bufferSize)
  }

  // one logged call each: `exists` probes through the parent's
  // getFileStatus, not this class's, so it is not counted twice
  override def exists(f: Path): Boolean = {
    FaultFs.call("exists", f)
    try { super.getFileStatus(f); true }
    catch { case _: java.io.FileNotFoundException => false }
  }

  override def getFileStatus(f: Path): org.apache.hadoop.fs.FileStatus = {
    FaultFs.call("getFileStatus", f)
    super.getFileStatus(f)
  }

  // logged, not ticked: the crash matrix's cut points stay the
  // mutations above (a local-filesystem permission call forks a chmod)
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    FaultFs.call("setPermission", p)
    super.setPermission(p, permission)
  }

  // RawLocalFileSystem implements this overload DIRECTLY too (it does
  // not funnel through the FsPermission variant below) and it is the
  // one the sink's promote and every local `create` take
  override def mkdirs(f: Path): Boolean = {
    FaultFs.tick("mkdirs", f)
    super.mkdirs(f)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    FaultFs.tick("create", f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  // RawLocalFileSystem implements this overload DIRECTLY (it does not
  // funnel through the FsPermission variant) and it is the one the
  // parquet writer's HadoopOutputFile takes — without it the stage
  // write's file creates would be invisible to the matrix
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    FaultFs.tick("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag],
                                  bufferSize: Int, replication: Short,
                                  blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    FaultFs.tick("createNonRecursive", f)
    super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    FaultFs.tick("rename", src)
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    FaultFs.tick("delete", p)
    super.delete(p, recursive)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    FaultFs.tick("mkdirs", f)
    super.mkdirs(f, permission)
  }
}

object FaultFs {
  /** IOException (not RuntimeException): the sink and Spark's commit
    * protocol treat IO failures as the crash-shaped error path. */
  final class InjectedCrash(msg: String) extends IOException(msg)

  private val opCount = new AtomicLong(0L)
  @volatile private var budget: Long = Long.MaxValue
  private val log =
    java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
  private val readLog =
    java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
  private val callLog =
    java.util.Collections.synchronizedList(new java.util.ArrayList[String]())

  private[ocsf] def read(op: String, p: Path): Unit = { readLog.add(s"$op $p"); () }

  private[ocsf] def call(op: String, p: Path): Unit = { callLog.add(s"$op $p"); () }

  private[ocsf] def tick(op: String, p: Path): Unit = {
    val n = opCount.incrementAndGet()
    call(op, p)
    log.add(s"$op $p")
    if (n > budget)
      throw new InjectedCrash(
        s"injected crash: mutation op #$n ($op $p) exceeds budget $budget")
  }

  /** Allow exactly `allowedOps` mutations, then fail every further one. */
  def arm(allowedOps: Long): Unit = {
    opCount.set(0L); log.clear(); readLog.clear(); callLog.clear(); budget = allowedOps
  }

  /** Count without failing (for measuring an operation's op total). */
  def disarm(): Unit = {
    budget = Long.MaxValue; opCount.set(0L); log.clear(); readLog.clear(); callLog.clear()
  }

  def ops: Long = opCount.get()

  /** The mutation trace since the last arm/disarm (diagnostics + the
    * coverage assertion that stage-internal executor ops ARE counted). */
  def trace: Seq[String] = {
    import scala.jdk.CollectionConverters._
    log.asScala.toSeq
  }

  /** The commit-log reads since the last arm/disarm: `list <dir>` per
    * LIST of a `_committed_batches` dir, `open <file>` per open of a
    * manifest. */
  def reads: Seq[String] = {
    import scala.jdk.CollectionConverters._
    readLog.synchronized(readLog.asScala.toList)
  }

  /** Every call since the last arm/disarm, in order, as `<op> <path>`:
    * the mutations of [[trace]] plus each `exists`, `getFileStatus`,
    * `listStatus` and `open`. */
  def calls: Seq[String] = {
    import scala.jdk.CollectionConverters._
    callLog.synchronized(callLog.asScala.toList)
  }

  /** True if any cause in the chain is an injected crash. Spark wraps
    * executor-side failures in SparkException layers and sometimes
    * stringifies the original, so the message is checked too. */
  def causedByInjection(t: Throwable): Boolean = {
    var cur = t
    var depth = 0
    while (cur != null && depth < 20) {
      if (cur.isInstanceOf[InjectedCrash] ||
          Option(cur.getMessage).exists(_.contains("injected crash")))
        return true
      cur = cur.getCause
      depth += 1
    }
    false
  }
}
