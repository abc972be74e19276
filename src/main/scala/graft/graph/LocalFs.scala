package graft.graph

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system, with file permissions set in-process.
  *
  * Without the native Hadoop library, `RawLocalFileSystem.setPermission`
  * starts a `chmod` child process, and every `create` and `mkdirs` that
  * carries a permission calls it: a parquet write forks once per data
  * file, per `.crc` side file and per directory, and the task threads
  * wait for each. [[LocalFs.Raw]] sets the same rwx bits with
  * `Files.setPosixFilePermissions`, so the files, their modes and the
  * commit protocol stay as they were.
  *
  * It also writes no `.crc` checksum side files, each one more file to
  * create and rename at every commit. So a read of a file this program
  * wrote is not checksum-verified: parquet writes page checksums, but its
  * reader checks them only when `parquet.page.verify-checksum.enabled`
  * is set, and nothing here sets it. A file with a `.crc` beside it, such
  * as one the stock file system wrote, is still verified on read.
  *
  * Writers pass [[LocalFs.writerOptions]] to `DataFrameWriter.options`.
  * Spark copies writer options into the write job's Hadoop configuration,
  * which the driver's committer and every task of the job use; the keys
  * name the `file` scheme only, so a write to any other file system is
  * unaffected.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw) {
  setWriteChecksum(false)
}

object LocalFs {

  private val S_IFMT = 0xf000 // 0170000
  private val S_IFDIR = 0x4000 // 0040000
  private val SetIdBits = 0xc00 // 06000, set-user-ID and set-group-ID

  /** rwx bits in `chmod` order: owner r, w, x, group r, w, x, other r, w, x. */
  private val Bits = {
    import PosixFilePermission._
    Vector(OWNER_READ, OWNER_WRITE, OWNER_EXECUTE, GROUP_READ, GROUP_WRITE, GROUP_EXECUTE,
      OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
  }

  private def posixBits(mode: Short): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- Bits.indices if (mode & (1 << (8 - i))) != 0) set.add(Bits(i))
    set
  }

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      // `chmod` with a four-digit octal mode keeps a directory's set-ID
      // bits, where nio's chmod would clear them; those, the sticky bit
      // and a non-POSIX store take Hadoop's own path
      val inProcess = !permission.getStickyBit && (try {
        val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
        (mode & S_IFMT) != S_IFDIR || (mode & SetIdBits) == 0
      } catch { case _: UnsupportedOperationException => false })
      if (inProcess) Files.setPosixFilePermissions(file, posixBits(permission.toShort))
      else super.setPermission(p, permission)
    }
  }

  /** The options every program writer passes: this class for `file:`
    * paths, and no cached instance. Hadoop caches file systems by scheme
    * and user, so once anything in the JVM has touched a `file:` path the
    * cached stock instance would be served and `fs.file.impl` ignored.
    */
  val writerOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")
}
