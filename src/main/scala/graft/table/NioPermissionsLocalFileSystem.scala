package graft.table

import java.nio.file.attribute.PosixFilePermission
import java.nio.file.{Files, FileSystems}

import org.apache.hadoop.fs.permission.{FsAction, FsPermission}
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}

/** Hadoop's local file system with permissions set through java.nio.
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission`
  * forks a `chmod` process for every directory, data file and checksum
  * file a parquet writer creates. The engine's parquet writers
  * (GraftSqlBridge.parquetWriterConf) name this class as `fs.file.impl`
  * in their own Hadoop conf, so writing a file starts no process. The
  * modes set are the same; only a sticky bit, which java.nio cannot set,
  * still goes through Hadoop's own path. */
class NioPermissionsLocalFileSystem
    extends LocalFileSystem(new NioPermissionsLocalFileSystem.Raw)

object NioPermissionsLocalFileSystem {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (!posix || permission.getStickyBit) super.setPermission(p, permission)
      else {
        import PosixFilePermission._
        val modes = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        def add(a: FsAction, r: PosixFilePermission, w: PosixFilePermission,
            x: PosixFilePermission): Unit = {
          if (a.implies(FsAction.READ)) modes.add(r)
          if (a.implies(FsAction.WRITE)) modes.add(w)
          if (a.implies(FsAction.EXECUTE)) modes.add(x)
        }
        add(permission.getUserAction, OWNER_READ, OWNER_WRITE, OWNER_EXECUTE)
        add(permission.getGroupAction, GROUP_READ, GROUP_WRITE, GROUP_EXECUTE)
        add(permission.getOtherAction, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
        Files.setPosixFilePermissions(pathToFile(p).toPath, modes)
      }
  }
}
