package graft.table

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, LocatedFileStatus,
  Path, PathFilter, RawLocalFileSystem, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Shell

import java.nio.file.{Files, LinkOption}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermission}
import scala.jdk.CollectionConverters._

/** The `file:` FileSystem a local lake writes and lists through (its data
  * files, by [[GraftLake.writeData]], and its metadata, by the lake's own
  * `fs`), and a local feed's writer too. HDFS and object stores never see it.
  *
  * Without libhadoop, Hadoop's stock local FileSystem forks a process to
  * read or set mode bits: `chmod` for every file and directory it creates,
  * and `ls -ld` for every entry `listFiles` returns. Each fork costs about
  * 3 ms of CPU and 6 ms of wall time; one commit creates dozens of files
  * and a `vacuum` lists every data file. This one reads and sets the same
  * bits through `java.nio`, on every POSIX host. Bits outside 0777 (sticky,
  * setuid) and Windows take Hadoop's own path.
  *
  * Checksums are off, as the lake has always written: no `.crc` sidecar next
  * to a data file or manifest, and no sidecar lookup on open through this
  * instance. The JVM-wide cached `file:` FileSystem, shared with every other
  * local reader and writer in the process, is left as Hadoop configures it:
  * a Spark read of a lake file through it looks for the sidecar, finds
  * none and reads the file unchecked. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw) {
  setWriteChecksum(false)
  setVerifyChecksum(false)
}

object NioLocalFileSystem {
  /** `setPermission` is the one place the raw local FileSystem sets mode
    * bits (`create` and `mkdirs` both end in it), and `listLocatedStatus`
    * the one place `listFiles` reads them. */
  private[table] final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort.toInt
      if (Shell.WINDOWS || (bits & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posix(bits))
    }

    override protected def listLocatedStatus(f: Path,
        filter: PathFilter): RemoteIterator[LocatedFileStatus] =
      if (Shell.WINDOWS) super.listLocatedStatus(f, filter)
      else {
        val it = listStatus(f, filter).iterator
        new RemoteIterator[LocatedFileStatus] {
          def hasNext: Boolean = it.hasNext
          def next(): LocatedFileStatus = located(it.next())
        }
      }

    /** `st` with the mode bits, owner and group of its file, read the way
      * `ls -ld` reads them: of the entry itself, not a link's target. Only
      * bits 0777: a sticky bit, which no lake file or directory carries,
      * is not reported. */
    private def located(st: FileStatus): LocatedFileStatus = {
      val a = Files.readAttributes(pathToFile(st.getPath).toPath,
        classOf[PosixFileAttributes], LinkOption.NOFOLLOW_LINKS)
      val locs = if (st.isFile) getFileBlockLocations(st, 0, st.getLen) else null
      new LocatedFileStatus(st.getLen, st.isDirectory, st.getReplication,
        st.getBlockSize, st.getModificationTime, st.getAccessTime,
        new FsPermission(bits(a.permissions).toShort), a.owner.getName,
        a.group.getName, null, st.getPath, FileStatus.NONE, locs)
    }
  }

  /** The `java.nio` form of mode bits 0000–0777. `PosixFilePermission`
    * lists owner, group, others, each read, write, execute: 0400 down to
    * 0001. */
  private def posix(bits: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { p =>
      if ((bits & (0x100 >> p.ordinal)) != 0) s.add(p)
    }
    s
  }

  /** The inverse of [[posix]]. */
  private def bits(perms: java.util.Set[PosixFilePermission]): Int =
    perms.asScala.foldLeft(0)((b, p) => b | (0x100 >> p.ordinal))

  /** The FileSystem a lake (or feed) whose root resolves to `shared` writes
    * through: a new instance of this class for the `file:` scheme, `shared`
    * itself for any other. */
  private[graft] def forLake(shared: FileSystem, conf: Configuration): FileSystem =
    if (shared.getScheme != "file") shared
    else {
      val f = new NioLocalFileSystem
      f.initialize(shared.getUri, conf)
      f
    }

  /** [[forLake]] of the FileSystem `p` resolves to. */
  private[graft] def forPath(p: Path): FileSystem = {
    val conf = GraftLake.hadoopConf()
    forLake(p.getFileSystem(conf), conf)
  }

  /** Options of a lake's Spark write job, given the lake's `fs`: for a
    * local lake, Hadoop options that send the job's `file:` paths through
    * this class. `disable.cache` is needed because the JVM-wide FileSystem
    * cache is keyed by scheme and user, not by configuration: without it
    * every lookup would get the cached stock instance. The cached instance
    * itself is left alone. */
  private[graft] def writeOptions(fs: FileSystem): Map[String, String] =
    if (!fs.isInstanceOf[NioLocalFileSystem]) Map.empty
    else Map("fs.file.impl" -> classOf[NioLocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")
}
