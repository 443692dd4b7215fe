package graft

import java.io.FileNotFoundException
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system, with permissions set in
  * process. Without libhadoop, `RawLocalFileSystem.setPermission` forks
  * `chmod` for every file it creates and every directory a job commit
  * makes — hundreds of forks per pipeline run, each costing
  * milliseconds. Registered as `fs.file.impl` by
  * [[GraftSession.recommendedConf]]. */
final class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** `setPermission` through `Files.setPosixFilePermissions`; the
    * permission bits beyond rwx (sticky, setuid) are not set, as Hadoop
    * never asks for them on a local path. Non-POSIX file systems keep
    * the inherited behaviour. */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      if (!file.getFileSystem.supportedFileAttributeViews.contains("posix"))
        super.setPermission(p, permission)
      else
        try Files.setPosixFilePermissions(file, posix(permission.toShort))
        catch {
          case e: NoSuchFileException =>
            throw new FileNotFoundException(s"File $p does not exist: ${e.getMessage}")
        }
    }
  }

  private val Bits = {
    import PosixFilePermission._
    Seq(OWNER_READ -> 256, OWNER_WRITE -> 128, OWNER_EXECUTE -> 64,
      GROUP_READ -> 32, GROUP_WRITE -> 16, GROUP_EXECUTE -> 8,
      OTHERS_READ -> 4, OTHERS_WRITE -> 2, OTHERS_EXECUTE -> 1)
  }

  private def posix(mode: Short): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Bits.foreach { case (p, bit) => if ((mode & bit) != 0) s.add(p) }
    s
  }
}
