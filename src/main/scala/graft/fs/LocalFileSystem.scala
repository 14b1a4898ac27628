package graft.fs

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsServerDefaults,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem ([[graft.GraftSession.builder]] sets
  * it as `fs.file.impl`): Hadoop's checksummed `LocalFileSystem`, so
  * every `.crc` file is still written, over [[NioRawLocalFileSystem]].
  *
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission`
  * forks a `chmod` process for every directory and file it creates —
  * about 4 per parquet file a sink write lands, at 3–4 ms each. The
  * modes written are the same either way; only the process is gone. */
class LocalFileSystem
    extends org.apache.hadoop.fs.LocalFileSystem(new NioRawLocalFileSystem)

/** The engine's `file:` `AbstractFileSystem` ([[graft.GraftSession.builder]]
  * sets it as `fs.AbstractFileSystem.file.impl`), for the callers that
  * go through `FileContext` rather than `FileSystem`, such as a
  * streaming query's checkpoint: Hadoop's `local.LocalFs` with
  * [[NioRawLocalFileSystem]] underneath, so it forks no `chmod`
  * either. */
class LocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new RawLocalFs(uri, conf))

/** Hadoop's `local.RawLocalFs` over [[NioRawLocalFileSystem]]. */
class RawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `RawLocalFileSystem` that applies permission bits in-process with
  * `Files.setPosixFilePermissions`. Bits NIO cannot express (sticky)
  * and a non-POSIX filesystem take Hadoop's own path. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        NioRawLocalFileSystem.bits(mode))
      catch {
        case _: UnsupportedOperationException =>
          super.setPermission(p, permission)
      }
  }
}

object NioRawLocalFileSystem {
  /** The `rwxrwxrwx` bits of `mode` as NIO permissions: the enum
    * declares them from owner-read (0400) down to others-execute (01). */
  private[fs] def bits(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { b =>
      if ((mode & (0x100 >> b.ordinal)) != 0) set.add(b)
    }
    set
  }
}
