package graft.hadoop

import java.io.File
import java.net.URI
import java.nio.file.{Files, LinkOption, Paths}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermission}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Local filesystem without the fork-per-metadata-op tax.
  *
  * Hadoop's `RawLocalFileSystem` falls back to `fork`+`exec` of shell
  * commands when `libhadoop.so` (NativeIO) is not on the JVM's library
  * path — which it never is in a plain-jars deployment like this one:
  *
  *   - `setPermission` execs `chmod` — and the parquet write path calls
  *     it for EVERY created file and EVERY `_temporary` task directory
  *     level (`mkOneDirWithMode`), so a small staged commit pays 5–10
  *     subprocess launches; measured 2.65 ms/op on an idle host and
  *     10–30 ms under full CPU load (driver stack samples showed
  *     `Shell.runCommand` inside executor write tasks).
  *   - `getFileLinkStatus` execs `readlink` per call on the deprecated
  *     (non-Stat) path; `FileContext.rename` — the streaming checkpoint
  *     commit primitive — calls it for src and dst on EVERY rename.
  *
  * This subclass does the same operations in-process via java.nio
  * (`setPosixFilePermissions`, `readAttributes`): same semantics, no
  * subprocess. Setuid/setgid/sticky bits (not representable in NIO's
  * posix view) fall back to the shell path — they never occur on data
  * files. Plugged in with `fs.file.impl` (also dropping the
  * `ChecksumFileSystem` wrapper and its `.crc` sibling per file — the
  * lake carries its own content checksums) and, for the `FileContext`
  * API streaming checkpoints use, `fs.AbstractFileSystem.file.impl` via
  * [[NioLocalFs]]. Scheme-specific: production deployments on HDFS/S3A
  * never load this class; on local disks it removes pure overhead.
  */
class NioLocalFileSystem extends RawLocalFileSystem {

  // RawLocalFileSystem inherits FileSystem.getScheme's "not implemented"
  // throw (only the Checksum wrapper overrides it upstream)
  override def getScheme: String = "file"

  private def nioPerms(perm: FsPermission): java.util.Set[PosixFilePermission] = {
    val bits = perm.toShort
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    val order = Seq(
      PosixFilePermission.OWNER_READ, PosixFilePermission.OWNER_WRITE,
      PosixFilePermission.OWNER_EXECUTE,
      PosixFilePermission.GROUP_READ, PosixFilePermission.GROUP_WRITE,
      PosixFilePermission.GROUP_EXECUTE,
      PosixFilePermission.OTHERS_READ, PosixFilePermission.OTHERS_WRITE,
      PosixFilePermission.OTHERS_EXECUTE)
    order.zipWithIndex.foreach { case (p, i) =>
      if ((bits & (1 << (8 - i))) != 0) out.add(p)
    }
    out
  }

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    // setuid/setgid/sticky cannot be expressed through NIO's posix view
    if ((permission.toShort & 0xE00) != 0) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(
        Paths.get(pathToFile(p).getPath), nioPerms(permission)): Unit
      catch { case _: UnsupportedOperationException =>
        super.setPermission(p, permission) }
  }

  override protected def mkOneDirWithMode(p: Path, p2f: File,
      permission: FsPermission): Boolean = {
    if (permission == null) p2f.mkdir()
    else {
      val made = p2f.mkdir()
      if (made) setPermission(p, permission)
      made
    }
  }

  /** EAGER FileStatus from one in-process `readAttributes` — permission,
    * owner and group loaded up front. The parent's status objects
    * (`DeprecatedRawLocalFileStatus`) load those fields LAZILY by
    * forking `ls -ld` per file, and `LocatedFileStatus`'s copy
    * constructor — which `FileSystem.listFiles`/`listLocatedStatus`
    * build for EVERY listed file, i.e. Spark's file-index listing on
    * every scan plus this engine's staging-dir walk on every commit —
    * reads all three, forcing that fork per listed file (round-14
    * session-4 stack samples: `forkAndExec` under
    * `TxTable.stageWrite`'s `listFiles`). */
  private def nioStatus(f: Path, attrs: PosixFileAttributes): FileStatus = {
    val bits = attrs.permissions()
    var mode = 0
    val order = Seq(
      PosixFilePermission.OWNER_READ, PosixFilePermission.OWNER_WRITE,
      PosixFilePermission.OWNER_EXECUTE,
      PosixFilePermission.GROUP_READ, PosixFilePermission.GROUP_WRITE,
      PosixFilePermission.GROUP_EXECUTE,
      PosixFilePermission.OTHERS_READ, PosixFilePermission.OTHERS_WRITE,
      PosixFilePermission.OTHERS_EXECUTE)
    order.zipWithIndex.foreach { case (p, i) =>
      if (bits.contains(p)) mode |= (1 << (8 - i))
    }
    new FileStatus(attrs.size(), attrs.isDirectory, 1, getDefaultBlockSize(f),
      attrs.lastModifiedTime().toMillis, attrs.lastAccessTime().toMillis,
      new FsPermission(mode.toShort), attrs.owner().getName,
      attrs.group().getName,
      f.makeQualified(getUri, getWorkingDirectory))
  }

  /** `readlink`-free link status: regular files/dirs (the only thing the
    * engine ever renames) resolve via one in-process `readAttributes`;
    * true symlinks — which need the target string — keep the parent's
    * shell path. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val nio = Paths.get(pathToFile(f).getPath)
    val attrs =
      try Files.readAttributes(nio, classOf[PosixFileAttributes],
        LinkOption.NOFOLLOW_LINKS)
      catch {
        case _: java.nio.file.NoSuchFileException =>
          throw new java.io.FileNotFoundException(s"File $f does not exist")
        case _: UnsupportedOperationException =>
          return super.getFileLinkStatus(f)
      }
    if (attrs.isSymbolicLink) return super.getFileLinkStatus(f)
    nioStatus(f, attrs)
  }

  /** Fork-free stat: same contract as the parent (FileNotFoundException
    * when missing; symlinks followed), but the returned status carries
    * its permission/owner/group eagerly so no later field access can
    * fork. The dangling-symlink corner (exists NOFOLLOW, target gone)
    * keeps the parent's path. */
  override def getFileStatus(f: Path): FileStatus = {
    val nio = Paths.get(pathToFile(f).getPath)
    val attrs =
      try Files.readAttributes(nio, classOf[PosixFileAttributes])
      catch {
        case _: java.nio.file.NoSuchFileException =>
          if (Files.exists(nio, LinkOption.NOFOLLOW_LINKS))
            return super.getFileStatus(f)
          throw new java.io.FileNotFoundException(s"File $f does not exist")
        // an ancestor is a regular file (ENOTDIR): absent, as the
        // parent reports it
        case _: java.nio.file.FileSystemException
            if !Files.exists(nio, LinkOption.NOFOLLOW_LINKS) =>
          throw new java.io.FileNotFoundException(s"File $f does not exist")
        case _: UnsupportedOperationException =>
          return super.getFileStatus(f)
      }
    nioStatus(f, attrs)
  }

  /** Fork-free directory listing: one `readAttributes` per entry instead
    * of a lazy status whose permission access forks `ls -ld`. Entries
    * deleted between the directory read and their stat are skipped —
    * the same tolerance Spark's own listing layers apply to racing
    * writers. */
  override def listStatus(f: Path): Array[FileStatus] = {
    val dir = Paths.get(pathToFile(f).getPath)
    val attrs =
      try Files.readAttributes(dir, classOf[PosixFileAttributes])
      catch {
        case _: java.nio.file.NoSuchFileException =>
          throw new java.io.FileNotFoundException(s"File $f does not exist")
        case _: UnsupportedOperationException =>
          return super.listStatus(f)
      }
    if (!attrs.isDirectory) return Array(nioStatus(f, attrs))
    val out = Array.newBuilder[FileStatus]
    val stream = Files.newDirectoryStream(dir)
    try {
      val it = stream.iterator()
      while (it.hasNext) {
        val child = it.next()
        // 3-arg ctor: a name holding ':' is a name, not a URI scheme
        val childPath =
          new Path(f, new Path(null, null, child.getFileName.toString))
        try out += nioStatus(childPath,
          Files.readAttributes(child, classOf[PosixFileAttributes]))
        catch { case _: java.nio.file.NoSuchFileException => () }
      }
    } finally stream.close()
    out.result()
  }
}

/** [[NioLocalFileSystem]] exposed through the `AbstractFileSystem` API
  * (`FileContext`) — the surface Structured Streaming's checkpoint file
  * manager commits through. Registered via
  * `fs.AbstractFileSystem.file.impl`; the required reflective
  * constructor shape is (URI, Configuration). */
class NioLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, {
    val fs = new NioLocalFileSystem
    fs.initialize(URI.create("file:///"), conf)
    fs
  }, conf, "file", false)
