package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.StructType

/** The commit log as a Spark [[FileIndex]]: the files a scan reads are
  * exactly the `FileAdd`s the log names, with the lengths it recorded —
  * no directory listing and no per-file status request (Delta's rule:
  * the log is the table's only file listing). A path-based
  * `spark.read.parquet(paths)` lists every path it is given, and above
  * `parallelPartitionDiscovery.threshold` (32) paths it does so as a
  * separate Spark job with one task per file; on an object store that is
  * one request per file per read.
  *
  * Only a file whose commit recorded no length (`bytes == 0`, commit
  * JSONs written before lengths were recorded) costs one driver-side
  * `getFileStatus`. No partition schema: partition values live in the
  * data files themselves. Equality is by file list, so two scans of the
  * same files compare equal in plan reuse.
  *
  * The statuses carry no block locations, so the scheduler gets no
  * locality hints. That is deliberate: the stores a lake table targets
  * (object stores, local disk) report none. On HDFS a scan would lose the
  * locality a listing gave it; that case is unmeasured. */
final case class LogFileIndex(files: Seq[FileAdd])(hadoopConf: Configuration)
    extends FileIndex {

  private lazy val statuses: Seq[FileStatusWithMetadata] =
    LogFileIndex.statusesOf(files, hadoopConf).map(FileStatusWithMetadata(_))

  override def rootPaths: Seq[Path] = files.map(f => new Path(f.path))

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, statuses))

  override def inputFiles: Array[String] = files.map(_.path).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = statuses.map(_.getLen).sum

  override def partitionSchema: StructType = new StructType()

  override def toString: String = s"LogFileIndex(${files.size} files)"
}

object LogFileIndex {

  /** one Hadoop status per file, from the recorded length; only an
    * unrecorded length (0) asks the filesystem */
  def statusesOf(files: Seq[FileAdd], conf: Configuration): Seq[FileStatus] =
    files.map { f =>
      val p = new Path(f.path)
      if (f.bytes > 0L) new FileStatus(f.bytes, false, 1, 0L, 0L, p)
      else LocalFs.of(p, conf).getFileStatus(p)
    }

  /** A parquet scan of exactly `files`, read with `fileSchema` (fields
    * nullable, as an explicit-schema path read makes them). Hidden
    * `_metadata` columns and `input_file_name()` bind as on any file
    * source scan. */
  def scan(spark: SparkSession, files: Seq[FileAdd],
      fileSchema: StructType): DataFrame = {
    val index = LogFileIndex(files)(spark.sparkContext.hadoopConfiguration)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, new StructType(),
      PlanBridge.asNullable(fileSchema), None, new ParquetFileFormat,
      Map.empty)(spark))
  }
}
