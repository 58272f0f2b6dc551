package sinkbench

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

/** The benchmark's object store: Hadoop's checksummed local filesystem,
  * except that permissions are set in-process. Without Hadoop's native
  * library the stock local filesystem forks a `chmod` process for every
  * file and directory it creates, which would make per-object cost a
  * measure of process creation rather than of the sink. Registered as
  * `fs.file.impl` for the benchmark's sessions only. */
final class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    val all = Seq(OTHERS_EXECUTE, OTHERS_WRITE, OTHERS_READ, GROUP_EXECUTE,
      GROUP_WRITE, GROUP_READ, OWNER_EXECUTE, OWNER_WRITE, OWNER_READ)
    val set = new java.util.HashSet[PosixFilePermission]()
    all.zipWithIndex.foreach { case (perm, i) => if ((bits & (1 << i)) != 0) set.add(perm) }
    Files.setPosixFilePermissions(pathToFile(p).toPath, set)
  }
}

final class LocalStore extends LocalFileSystem(new NioRawLocalFileSystem)
