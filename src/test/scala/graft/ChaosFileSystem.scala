package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream,
  FileStatus, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import graft.util.NioLocalFileSystem

/** The engine's local filesystem, recording every call the engine
  * makes through it on a path under an armed store root (not the calls
  * the filesystem makes to itself, such as the checksum layer's stat
  * inside `open`) and failing every mutating call there (create,
  * rename, delete, mkdirs) from the k-th on, as a crash at that call
  * would stop them. Each armed root has one JVM-wide counter: executor
  * tasks of `local[N]` count too. Installed through
  * [[NioLocalFileSystem.impl]] by [[ChaosFileSystem.run]]. */
class ChaosFileSystem extends NioLocalFileSystem {
  import ChaosFileSystem.{call, mutate}

  override def create(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    mutate("create", f)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean =
    mutate("rename", src)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    mutate("delete", f)(super.delete(f, recursive))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    mutate("mkdirs", f)(super.mkdirs(f, permission))
  override def mkdirs(f: Path): Boolean =
    mutate("mkdirs", f)(super.mkdirs(f))
  override def listStatus(f: Path): Array[FileStatus] =
    call("listStatus", f)(super.listStatus(f))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    call("open", f)(super.open(f, bufferSize))
  override def getFileStatus(f: Path): FileStatus =
    call("getFileStatus", f)(super.getFileStatus(f))
}

object ChaosFileSystem {
  private final class Armed(val failFrom: Int) {
    val calls = new ConcurrentLinkedQueue[(String, Path)]
    val mutations = new AtomicInteger
  }
  private val armed = new ConcurrentHashMap[String, Armed]
  private var installed = 0

  /** Calls in progress on this thread: only the outermost is the
    * engine's. */
  private val depth = ThreadLocal.withInitial[Int](() => 0)

  private def call[T](op: String, p: Path, mutating: Boolean = false)(
      body: => T): T = {
    if (depth.get == 0) {
      val path = p.toUri.getPath
      armed.asScala.collectFirst {
        case (root, a) if path == root || path.startsWith(root + "/") => a
      }.foreach { a =>
        a.calls.add((op, p))
        if (mutating) {
          val n = a.mutations.incrementAndGet()
          if (n >= a.failFrom)
            throw new java.io.IOException(s"chaos: $op $p is mutation $n")
        }
      }
    }
    depth.set(depth.get + 1)
    try body finally depth.set(depth.get - 1)
  }

  private def mutate[T](op: String, p: Path)(body: => T): T =
    call(op, p, mutating = true)(body)

  /** Run `body` with every store filesystem a [[ChaosFileSystem]] armed
    * on `root` (an absolute local path), failing its mutation `failAt`
    * and every later one (never when 0). Runs on distinct roots may
    * overlap. Returns the outcome, the calls made under `root` and its
    * mutation count. */
  def run[T](root: String, failAt: Int = 0)(body: => T)
      : (Try[T], Seq[(String, Path)], Int) = {
    val a = new Armed(if (failAt > 0) failAt else Int.MaxValue)
    require(armed.putIfAbsent(root, a) == null, s"$root is armed already")
    synchronized {
      if (installed == 0) NioLocalFileSystem.impl = classOf[ChaosFileSystem]
      installed += 1
    }
    try (Try(body), a.calls.asScala.toSeq, a.mutations.get)
    finally {
      armed.remove(root)
      synchronized {
        installed -= 1
        if (installed == 0)
          NioLocalFileSystem.impl = classOf[NioLocalFileSystem]
      }
    }
  }
}
