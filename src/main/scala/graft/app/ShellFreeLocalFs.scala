package graft.app

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataInputStream, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without a subprocess per call. Without
  * libhadoop, `RawLocalFileSystem` runs `chmod` for the permission of every
  * file it creates and every directory it makes, and `getFileLinkStatus`
  * runs `readlink` (twice per `FileContext.rename`). Every streaming commit
  * writes such files: the offset log, the commit log, sink metadata and
  * state-store deltas. Here permissions go through `java.nio`, and the link
  * status of a path that is no symlink is its plain status; a sticky bit,
  * which `java.nio` cannot set, and a real symlink take Hadoop's own path.
  * [[AppSession.StaticSettings]] installs the two front ends for the
  * `file:` scheme: [[ShellFreeLocalFileSystem]] for the `FileSystem` API and
  * [[ShellFreeLocalFs]] for the `FileContext` API; both keep the `.crc`
  * checksums (SCALE.md, "No subprocess per checkpoint file"). */
class ShellFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
      permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
        permission.getOtherAction.SYMBOL))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: Hadoop's `LocalFileSystem` over the shell-free raw layer. */
class ShellFreeLocalFileSystem extends LocalFileSystem(new ShellFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` over the shell-free
  * raw layer. Like `LocalFs` it roots the raw layer at `file:///` whatever
  * path URI the `FileContext` was opened with. The raw half repeats
  * `RawLocalFs`'s overrides, whose constructors Hadoop keeps package-private.
  *
  * Unlike stock `LocalFs`, a plain `open(path)` checks the `.crc` sidecar:
  * Hadoop's `FilterFs.open(Path)` forwards it to the raw layer, past
  * `ChecksumFs`, and it is the call Spark's checkpoint file manager reads
  * the offset log, the commit log and sink metadata with. */
class ShellFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ShellFreeRawLocalFs(conf)) {
  override def open(f: Path): FSDataInputStream = open(f, getServerDefaults(f).getFileBufferSize)
}

private[app] class ShellFreeRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new ShellFreeRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
