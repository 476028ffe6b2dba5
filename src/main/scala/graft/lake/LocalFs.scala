package graft.lake

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileSystemException, FileSystems, Files}
import java.nio.file.attribute.{FileTime, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The lake's filesystem for `file:` tables: Hadoop's checksummed
  * [[LocalFileSystem]] (the same files and `.crc` sidecars) over a raw
  * filesystem that sets and reads permissions in-process.
  *
  * Without Hadoop's native library, the stock raw filesystem forks
  * `chmod` for every file, `.crc` file and directory it creates, and
  * `ls -ld` for every status whose permission is read (`listFiles` reads
  * it for every entry): a 500-row delta upsert started about 100
  * processes. Here the same permission bits are set with one `chmod(2)`
  * and a status is one `stat(2)`.
  *
  * The lake reaches it through [[LocalFs.of]] (its own handles) and
  * [[LocalFs.jobOptions]] / [[LocalFs.writeOptions]] (the Spark jobs that
  * read or write its commit dirs by path). Other readers in the JVM keep
  * whatever `file:` resolves to; object stores and HDFS are untouched.
  */
final class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  private val ImplKey = "fs.file.impl"

  /** permissions are set and read as the JDK's `unix` attribute view's
    * `mode` (one `chmod(2)` or `stat(2)`, sticky bit included), where
    * that view exists (Linux, macOS). Elsewhere Hadoop's own calls run. */
  private val inProcess =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  private val StatAttrs =
    "unix:mode,size,lastModifiedTime,lastAccessTime,owner,group"

  /** [[RawLocalFileSystem]] with in-process `setPermission` and
    * `getFileStatus`; a directory listing builds its entries through
    * the latter. */
  final class Raw extends RawLocalFileSystem {

    private lazy val blockSize = getDefaultBlockSize(new Path("/"))

    override def setPermission(p: Path, perm: FsPermission): Unit =
      if (!inProcess) super.setPermission(p, perm)
      else Files.setAttribute(pathToFile(p).toPath, "unix:mode",
        Int.box(perm.toShort & 0x3ff))

    /** the status Hadoop's `DeprecatedRawLocalFileStatus` gives once its
      * permission is loaded: one replica, the configured block size, the
      * path qualified from the local file */
    override def getFileStatus(p: Path): FileStatus =
      if (!inProcess) super.getFileStatus(p)
      else {
        val f = pathToFile(p)
        val a = try Files.readAttributes(f.toPath, StatAttrs)
        catch {
          case _: FileSystemException if !f.exists() =>
            throw new FileNotFoundException(s"File $p does not exist")
        }
        val mode = a.get("mode").asInstanceOf[Int]
        new FileStatus(a.get("size").asInstanceOf[Long],
          (mode & 0xf000) == 0x4000, 1, blockSize,
          a.get("lastModifiedTime").asInstanceOf[FileTime].toMillis,
          a.get("lastAccessTime").asInstanceOf[FileTime].toMillis,
          new FsPermission((mode & 0x3ff).toShort),
          a.get("owner").asInstanceOf[UserPrincipal].getName,
          a.get("group").asInstanceOf[UserPrincipal].getName,
          new Path(f.getPath).makeQualified(getUri, getWorkingDirectory))
      }

    /** a directory's entries already come from [[getFileStatus]]; a
      * single file's status would not */
    override def listStatus(p: Path): Array[FileStatus] =
      if (!inProcess || pathToFile(p).isDirectory) super.listStatus(p)
      else Array(getFileStatus(p))
  }

  /** the lake uses [[LocalFs]] for `p` when it resolves to the `file`
    * scheme and `conf` names no `file:` implementation of its own */
  def covers(p: Path, conf: Configuration): Boolean =
    conf.get(ImplKey) == null &&
      Option(p.toUri.getScheme)
        .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** the last handle [[of]] built, with its conf: the lake resolves its
    * filesystem per call, up to once per file a clean deletes, and the
    * driver's calls all pass the session's conf */
  @volatile private var last: (Configuration, LocalFs) = (null, null)

  /** the lake's own handle on `p`'s filesystem */
  def of(p: Path, conf: Configuration): FileSystem =
    if (!covers(p, conf)) p.getFileSystem(conf)
    else {
      val (c, cached) = last
      if (c eq conf) cached
      else {
        val fs = new LocalFs
        fs.initialize(URI.create("file:///"), conf)
        last = (conf, fs)
        fs
      }
    }

  /** options for a Spark job over the lake's files under `p`: Spark
    * copies them into the job's Hadoop conf, so its tasks and committer
    * open `file:` paths through [[LocalFs]]. The cache is off for them:
    * the JVM-wide cache is keyed by scheme, not by conf, and would hand
    * back (or keep) some other reader's `file:` instance. */
  def jobOptions(p: Path, conf: Configuration): Map[String, String] =
    if (!covers(p, conf)) Map.empty
    else Map(ImplKey -> classOf[LocalFs].getName,
      "fs.file.impl.disable.cache" -> "true")

  /** [[jobOptions]] for a write, which also leaves out the committer's
    * `_SUCCESS` marker: the commit log is the lake's publish, and
    * nothing reads the marker */
  def writeOptions(p: Path, conf: Configuration): Map[String, String] =
    jobOptions(p, conf) +
      ("mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false")
}
