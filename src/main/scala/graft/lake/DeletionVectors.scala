package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Position-delete sidecar codec (Iceberg v2 position-delete / Delta
  * deletion-vector role, re-expressed on the commit log): one binary
  * file per TARGET data file, holding the sorted row positions (parquet
  * row indexes) a `dv_delete` commit tombstoned. Tracked as ordinary
  * commit adds (`FileAdd.kind == "dv"`, `FileAdd.target` = the data
  * file), so snapshot/time-travel/clean semantics need no new machinery:
  * a DV is applied exactly when it is live at the read's pin and its
  * target is in the read's file set.
  *
  * Format: magic, version, count, then positions as delta-varints
  * (sorted ascending — point deletes over a clustered key compress to
  * ~1-2 bytes per position). Small by construction: positions, not rows.
  */
private[graft] object DvCodec {

  private val Magic = 0x47445631 // "GDV1"

  def write(conf: Configuration, path: Path, positions: Array[Long]): Long = {
    java.util.Arrays.sort(positions)
    val fs = LocalFs.of(path, conf)
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(fs.create(path, false)))
    try {
      out.writeInt(Magic)
      out.writeInt(1)
      out.writeInt(positions.length)
      var prev = 0L
      positions.foreach { p =>
        writeVarLong(out, p - prev)
        prev = p
      }
    } finally out.close()
    fs.getFileStatus(path).getLen
  }

  def read(conf: Configuration, path: String): Array[Long] = {
    val p = new Path(path)
    val fs = LocalFs.of(p, conf)
    val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(fs.open(p)))
    try {
      require(in.readInt() == Magic, s"not a graft DV file: $path")
      require(in.readInt() == 1, s"unknown DV version: $path")
      val n = in.readInt()
      val out = new Array[Long](n)
      var prev = 0L
      var i = 0
      while (i < n) {
        prev += readVarLong(in)
        out(i) = prev
        i += 1
      }
      out
    } finally in.close()
  }

  private def writeVarLong(out: java.io.DataOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7FL) != 0L) {
      out.writeByte(((v & 0x7F) | 0x80).toInt)
      v >>>= 7
    }
    out.writeByte(v.toInt)
  }

  private def readVarLong(in: java.io.DataInputStream): Long = {
    var v = 0L
    var shift = 0
    var b = 0
    do {
      b = in.readUnsignedByte()
      v |= (b & 0x7FL) << shift
      shift += 7
    } while ((b & 0x80) != 0)
    v
  }

  /** scheme-stripped path form shared by the read-side join key and the
    * driver-side target map — `_metadata.file_path` renders
    * `file:///x`, Hadoop listings render `file:/x`; both normalize to
    * the same string under this rule (applied textually on BOTH sides,
    * so object-store URIs stay consistent too). */
  def normPath(p: String): String =
    p.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:/{0,2}", "/")
      .replaceFirst("^//+", "/")

  /** the same normalization as a Spark SQL expression */
  def normPathCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.regexp_replace
    regexp_replace(
      regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*:/{0,2}", "/"),
      "^//+", "/")
  }
}
