package graft.sources

import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `file://` filesystem whose permission writes are NIO syscalls
  * instead of forked `chmod` processes.
  *
  * Without the Hadoop native library (the usual state of a Spark
  * driver container), `RawLocalFileSystem.setPermission` shells out —
  * fork + exec of `/bin/chmod` — and the local FS calls it on every
  * file create and mkdir. A single partitioned parquet write of ~83
  * dirs forks hundreds of processes (data file + `.crc` sidecar +
  * work dirs, then the committer's merge); a full 276-query bench
  * sweep forks tens of thousands. Each fork is ~2-5 ms of serialized
  * kernel work charged to the creating task thread, and the r14
  * driver-stack probe showed `Shell.runCommand` hot in exactly these
  * paths. [[FsAtomic]] already routes the PROTOCOL files through NIO;
  * this class completes the move for every other local-FS create —
  * parquet data files, committer work dirs, streaming checkpoints —
  * by translating the permission to
  * `Files.setPosixFilePermissions` (same chmod(2) syscall `chmod`
  * itself makes, no process).
  *
  * Checksum behavior, rename semantics, and every other
  * `LocalFileSystem` contract are inherited unchanged. Sticky-bit
  * permissions (unrepresentable in NIO's POSIX view) fall back to the
  * inherited fork path — no caller here uses them. Cluster schemes
  * (hdfs/s3a/abfs) are untouched: this binds to `fs.file.impl` only,
  * where the stock implementation's fork is pure overhead.
  *
  * Wired unconditionally in [[graft.GraftSession]].
  */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    if (permission == null) return
    val m = permission.toShort.toInt
    if ((m & 0x200) != 0) { super.setPermission(p, permission); return }
    val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    def bit(mask: Int, perm: PosixFilePermission): Unit =
      if ((m & mask) != 0) { perms.add(perm); () }
    bit(0x100, OWNER_READ); bit(0x80, OWNER_WRITE); bit(0x40, OWNER_EXECUTE)
    bit(0x20, GROUP_READ); bit(0x10, GROUP_WRITE); bit(0x8, GROUP_EXECUTE)
    bit(0x4, OTHERS_READ); bit(0x2, OTHERS_WRITE); bit(0x1, OTHERS_EXECUTE)
    try {
      java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      ()
    } catch {
      case _: java.nio.file.NoSuchFileException =>
        throw new java.io.FileNotFoundException(p.toString)
    }
  }
}

class NoForkLocalFileSystem
  extends LocalFileSystem(new NoForkRawLocalFileSystem)
