package graft.perfbench

import java.io.File

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}

/** Local file system that keeps the library's fixed `/tmp/graft_*`
  * staging paths (stream splits, stream outputs) inside the benchmark's
  * work directory, so a run reads and writes only under its checkout.
  * Every other path is untouched. The root comes from the JVM property
  * `perfbench.tmp`; without it the file system is the stock one.
  */
class CheckoutRawFs extends RawLocalFileSystem {
  override def pathToFile(path: Path): File =
    CheckoutRawFs.redirect(super.pathToFile(path))

  // listings report the path that was asked for, so readers that match
  // listed files against their base path see the `/tmp/graft_*` form
  override def getFileStatus(f: Path): FileStatus = CheckoutRawFs.back(super.getFileStatus(f))
  override def getFileLinkStatus(f: Path): FileStatus =
    CheckoutRawFs.back(super.getFileLinkStatus(f))
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(CheckoutRawFs.back)
}

object CheckoutRawFs {
  private val root: Option[String] = sys.props.get("perfbench.tmp")

  def redirect(f: File): File = root match {
    case Some(r) if f.getPath.startsWith("/tmp/graft_") =>
      new File(r, f.getPath.stripPrefix("/tmp/"))
    case _ => f
  }

  def back(s: FileStatus): FileStatus = {
    root.foreach { r =>
      val p = s.getPath.toUri.getPath
      if (p.startsWith(r + "/graft_"))
        s.setPath(new Path("file:/tmp/" + p.stripPrefix(r + "/")))
    }
    s
  }
}

/** The checksummed `file:` scheme over [[CheckoutRawFs]], registered
  * through `spark.hadoop.fs.file.impl`. */
class CheckoutLocalFs extends LocalFileSystem(new CheckoutRawFs)
