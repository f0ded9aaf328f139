package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}

/** The `file:` filesystem of every session (GraftSession): Hadoop's
  * checksummed local filesystem over a raw one that sets permission
  * bits through java.nio. Without Hadoop's native library, the stock
  * RawLocalFileSystem forks a `chmod` process for every file and
  * directory it creates (several ms each, dozens per written table);
  * the NIO call sets the same bits in-process. A sticky bit, which
  * NIO cannot express, still goes through the stock path. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val bits = new java.util.HashSet[PosixFilePermission]()
      def add(a: FsAction, r: PosixFilePermission, w: PosixFilePermission,
              x: PosixFilePermission): Unit = {
        if (a.implies(FsAction.READ)) bits.add(r)
        if (a.implies(FsAction.WRITE)) bits.add(w)
        if (a.implies(FsAction.EXECUTE)) bits.add(x)
      }
      add(permission.getUserAction, OWNER_READ, OWNER_WRITE, OWNER_EXECUTE)
      add(permission.getGroupAction, GROUP_READ, GROUP_WRITE, GROUP_EXECUTE)
      add(permission.getOtherAction, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
      Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
    }
}
