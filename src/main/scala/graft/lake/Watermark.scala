package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Monotonic applied-id watermark as atomic marker files: one EMPTY
  * file per applied id (`<prefix><id>`), `last` = the highest present.
  * Never a rename onto an existing path — Hadoop filesystems fail that
  * rename, which freezes the watermark and silently re-applies work.
  * Shared by the streaming sink (batch ids) and the incremental
  * aggregate (source commit ids); the prefix scopes independent
  * consumers in one directory.
  */
private[graft] final class Watermark(
    dir: Path, prefix: String, hadoopConf: Configuration) {
  require(prefix.nonEmpty && prefix.matches("[A-Za-z0-9._-]+"),
    s"marker prefix must be filename-safe, got '$prefix'")
  private def fs = LocalFs.of(dir, hadoopConf)
  private val pat = java.util.regex.Pattern.quote(prefix) + "\\d{8,}"

  def last: Option[Long] =
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter(_.matches(pat))
      .map(_.stripPrefix(prefix).toLong)
      .maxOption

  def record(id: Long): Unit = {
    fs.mkdirs(dir)
    fs.create(new Path(dir, f"$prefix$id%08d"), true).close()
    // older markers are redundant once a newer one exists (best-effort)
    last.foreach { latest =>
      fs.listStatus(dir).toSeq.map(_.getPath)
        .filter(p => p.getName.matches(pat) &&
          p.getName.stripPrefix(prefix).toLong < latest)
        .foreach(p => try fs.delete(p, false) catch { case _: Exception => () })
    }
  }
}
