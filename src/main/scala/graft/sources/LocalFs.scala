package graft.sources

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}

/** Hadoop's `file:` filesystem without its child processes. Without
  * `libhadoop.so` (Spark ships none), [[RawLocalFileSystem]] runs `chmod`
  * for every file and directory it creates with a permission, and
  * `readlink` on both sides of every `FileContext.rename`. A fork costs
  * about 1.5 ms of JVM CPU and 4 ms of wall time on a 4-vCPU host, and
  * every streaming checkpoint write (offsets, commits, source log, state
  * deltas, the ES sink's failed-doc log) pays several. This class keeps
  * the stock semantics and makes both calls in-process. `src/main/resources/core-site.xml`
  * installs it for both Hadoop APIs; a `spark.hadoop.fs.file.impl`, or a
  * `core-site.xml` earlier on the classpath, restores the stock classes.
  */
class ForklessRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` in-process. The shell form writes a four-digit octal mode,
    * which keeps a directory's setuid and setgid bits and may set the
    * sticky bit; a POSIX permission set holds neither, so those cases, and
    * a store without the `unix` view, take the stock path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    // 0xe00 is octal 07000: setuid, setgid and sticky
    val special =
      try (Files.getAttribute(file, "unix:mode").asInstanceOf[Integer] & 0xe00) != 0
      catch { case _: UnsupportedOperationException | _: IllegalArgumentException => true }
    if (permission.getStickyBit || special) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, posix(permission))
  }

  /** The nine rwx bits; `PosixFilePermission` lists owner, group and
    * others, each as read, write, execute.
    */
  private def posix(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for ((who, i) <- Seq(p.getUserAction, p.getGroupAction, p.getOtherAction).zipWithIndex;
         (a, j) <- Seq(FsAction.READ, FsAction.WRITE, FsAction.EXECUTE).zipWithIndex if who.implies(a))
      set.add(PosixFilePermission.values()(3 * i + j))
    set
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val st = linkStatus(f)
    if (st.isSymlink) st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** The stock `deprecatedGetFileLinkStatusInternal` with `readlink` read
    * in-process from the same argument, the path's string form. A qualified
    * `file:/…` path is then a relative name that never exists, so it never
    * reads as a link, exactly as with the shell.
    */
  private def linkStatus(f: Path): FileStatus = {
    val target =
      try Files.readSymbolicLink(new File(f.toString).toPath).toString.trim
      catch { case _: IOException | _: InvalidPathException | _: UnsupportedOperationException => "" }
    try {
      val st = getFileStatus(f)
      if (target.isEmpty) st
      else new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
        st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner, st.getGroup,
        new Path(target), f)
    } catch {
      case _: FileNotFoundException if target.nonEmpty => // a dangling link
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", new Path(target), f)
    }
  }
}

/** `fs.file.impl`: the checksummed local filesystem over
  * [[ForklessRawLocalFileSystem]]. It stays a [[LocalFileSystem]] because
  * `FileSystem.getLocal` casts to that type.
  */
class ForklessLocalFileSystem extends LocalFileSystem(new ForklessRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `file:` filesystem of
  * `FileContext`: Hadoop's `LocalFs` over [[ForklessRawLocalFileSystem]].
  * Like `LocalFs`, it ignores the URI it is built with.
  */
class ForklessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForklessLocalFs.Raw(conf))

object ForklessLocalFs {

  /** `RawLocalFs`, whose constructors are package-private, with its four
    * overrides.
    */
  private class Raw(conf: Configuration) extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new ForklessRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
