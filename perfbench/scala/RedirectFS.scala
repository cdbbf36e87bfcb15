package perfbench

import java.io.File

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}

/** The local file system, except that paths under `/tmp/graft_io` (where
  * graft's io queries put the tables they write and read back) resolve
  * to `RedirectFS.target`. The driver points the target at the running
  * step's own directory in the run's lake, so graft's entry points run
  * unchanged while the benchmark writes only inside its checkout, and
  * each step's written bytes and files can be counted there.
  *
  * Installed for every Hadoop Configuration of the JVM through
  * `perfbench-site.xml` (`fs.file.impl`). Every RawLocalFileSystem
  * operation maps its path through `pathToFile`, so this one override
  * covers create, open, list, rename and delete, checksum files
  * included. File statuses carry the path under `/tmp/graft_io`, as a
  * real `/tmp/graft_io` would give them: Spark's file listing expects
  * the leaf files it gets back under the directory it listed. */
final class RedirectRawFS extends RawLocalFileSystem {
  override def pathToFile(path: Path): File = RedirectFS.map(super.pathToFile(path))
  override def getFileStatus(f: Path): FileStatus = RedirectFS.unmap(super.getFileStatus(f))
  override def getFileLinkStatus(f: Path): FileStatus = RedirectFS.unmap(super.getFileLinkStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(RedirectFS.unmap)
}

final class RedirectFS extends LocalFileSystem(new RedirectRawFS)

object RedirectFS {
  val from = "/tmp/graft_io"
  @volatile var target: String = _

  def map(f: File): File = {
    val p = f.getPath
    if (p != from && !p.startsWith(from + "/")) f
    else if (target == null) throw new IllegalStateException(s"$p: no redirect target set")
    else new File(target + p.substring(from.length))
  }

  /** A status of a file under the target, renamed back under `from`.
    * Permission and owner are left at FileStatus's defaults, which
    * nothing in graft's io path reads. */
  def unmap(st: FileStatus): FileStatus = {
    val p = st.getPath.toUri.getPath
    val t = target
    if (t == null || (p != t && !p.startsWith(t + "/"))) st
    else new FileStatus(st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
      st.getModificationTime, new Path("file", null, from + p.substring(t.length)))
  }
}
