package perfbench

import java.io.File
import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}

/** The local file system, with every path under /tmp stored under a
  * directory of the run instead. Some engine calls keep their indexes in
  * fixed /tmp/graft_* directories; installed as `fs.file.impl`, this keeps
  * those files inside the run's temp root. Paths are mapped only where they
  * reach the disk, so the engine sees its own path names throughout.
  */
final class HermeticFs extends LocalFileSystem(new HermeticFs.Raw)

object HermeticFs {
  /** System property naming the directory that stands in for /tmp. */
  val TmpProperty = "perfbench.tmp"

  final class Raw extends RawLocalFileSystem {
    override def pathToFile(path: Path): File = map(super.pathToFile(path))

    // statuses of mapped paths carry the caller's path names, not the
    // mapped ones: Spark's file index matches the files it lists to the
    // directories it asked for
    override def getFileStatus(f: Path): FileStatus = named(super.getFileStatus(f), f)
    override def getFileLinkStatus(f: Path): FileStatus = named(super.getFileLinkStatus(f), f)
    override def listStatus(f: Path): Array[FileStatus] = {
      val st = super.listStatus(f)
      if (!isMapped(f)) st
      else if (pathToFile(f).isFile) st.map(named(_, f))
      else st.map(s => named(s, new Path(f, s.getPath.getName)))
    }

    private def isMapped(p: Path): Boolean = { val f = super.pathToFile(p); map(f) ne f }
    private def named(s: FileStatus, p: Path): FileStatus = {
      if (isMapped(p)) s.setPath(makeQualified(p))
      s
    }
  }

  def map(f: File): File = {
    val tmp = System.getProperty(TmpProperty)
    val p = f.getPath
    if (tmp != null && (p == "/tmp" || p.startsWith("/tmp/"))) new File(tmp + p.substring(4)) else f
  }

  /** Fail unless the session's local file system is this one: the Hadoop
    * file-system cache keeps whichever instance was created first.
    */
  def verify(conf: org.apache.hadoop.conf.Configuration): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"), conf)
    require(fs.isInstanceOf[HermeticFs] && System.getProperty(TmpProperty) != null,
      s"local file system is ${fs.getClass.getName}, not the run's redirecting one")
  }
}
