package graft.catalog

import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local filesystem the engine's table writes run on: Hadoop's
  * `LocalFileSystem` — the same `.crc` checksums and on-disk layout — over
  * a raw filesystem that sets POSIX permissions in-process.
  *
  * Without `libhadoop` (`NativeIO.isAvailable()` false, as with the
  * stock Spark distribution), Hadoop's `RawLocalFileSystem.setPermission`
  * forks a `chmod` for every file, `.crc` file and directory a write
  * creates: about 30 forks of 3–4 ms each for one 8-bucket upsert, against
  * 0.01–0.03 ms a call through `java.nio`. Bits NIO cannot express
  * (sticky, setuid, setgid) and file stores without a POSIX attribute view
  * fall back to Hadoop's own `setPermission`, so every path gets exactly
  * the mode the stock filesystem would give it.
  *
  * A write opts in through [[CatalogFileSystem.writeOptions]]; the
  * session's Hadoop conf and Hadoop's `FileSystem` cache are never touched.
  */
class CatalogFileSystem extends LocalFileSystem(new CatalogFileSystem.Raw)

object CatalogFileSystem {

  /** `DataFrameWriter` options that put one write on this filesystem.
    * Spark merges a write's options into that write's Hadoop conf only
    * (driver and tasks alike). The cache bypass is needed because Hadoop's
    * `FileSystem` cache keys on scheme, authority and user, not on the
    * impl class: without it the write would get the cached stock instance,
    * and a cached instance of this class would leak into every other
    * `file:` user of the JVM.
    */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[CatalogFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** Permissions set in-process, and permissions handed to Hadoop's
    * `setPermission` (JVM-wide counts, read by specs).
    */
  private[graft] val inProcess = new AtomicLong
  private[graft] val fallbacks = new AtomicLong

  // PosixFilePermission declares owner, group, others × read, write,
  // execute: bit 8 - i of a mode is values()(i)
  private val permissionBits = PosixFilePermission.values().toSeq.zipWithIndex
    .map { case (p, i) => p -> (1 << (8 - i)) }

  /** `RawLocalFileSystem` whose `setPermission` — the one call its
    * `create` and `mkdirs` make for every path — runs through `java.nio`.
    */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      val view =
        if ((mode & ~0x1ff) != 0) null // sticky bit: no NIO equivalent
        else Files.getFileAttributeView(pathToFile(p).toPath, classOf[PosixFileAttributeView])
      if (view == null) {
        fallbacks.incrementAndGet()
        super.setPermission(p, permission)
      } else {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        permissionBits.foreach { case (perm, bit) => if ((mode & bit) != 0) perms.add(perm) }
        view.setPermissions(perms)
        inProcess.incrementAndGet()
      }
    }
  }
}
