package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{LakeTable, LakeTableConfig, LocalFs}

/** The lake's `file:` filesystem ([[LocalFs]]) sets and reads
  * permissions in-process and changes nothing else:
  *   - every status under a written table equals the one Hadoop's raw
  *     local filesystem gives (its `ls -ld`-backed status);
  *   - `setPermission` round-trips plain and sticky-bit modes;
  *   - a lake write routes through it unless the conf names its own
  *     `file:` implementation, which is then left alone.
  */
class LocalFsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def hconf = spark.sparkContext.hadoopConfiguration

  private def freshRoot(): String =
    Files.createTempDirectory("localfs").resolve("tbl").toString

  private def rows(pks: Seq[Int], ts: Int): DataFrame = {
    import spark.implicits._
    pks.map(i => (i.toLong, s"p${i % 5}", s"v$i-$ts", ts))
      .toDF("pk", "part", "v", "ts")
  }

  private def table(storage: String, bloomKeys: Int = 0): LakeTable =
    LakeTable(spark, LakeTableConfig(freshRoot(), keyCols = Seq("pk"),
      precombineCol = "ts", partitionCols = Seq("part"),
      storageType = storage, bloomKeys = bloomKeys))

  /** Hadoop's stock raw filesystem: without the native library its
    * statuses load permission, owner and group by running `ls -ld` */
  private def hadoopRaw(): RawLocalFileSystem = {
    val fs = new RawLocalFileSystem
    fs.initialize(URI.create("file:///"), hconf)
    fs
  }

  private def fields(s: FileStatus) =
    (s.getPath, s.getLen, s.isDirectory, s.getModificationTime,
      s.getPermission, s.getOwner, s.getGroup, s.getBlockSize,
      s.getReplication)

  /** bytes written through filesystems of class `c` in this JVM */
  @annotation.nowarn("cat=deprecation")
  private def bytesWrittenBy(c: Class[_ <: FileSystem]): Long =
    FileSystem.getStatistics("file", c).getBytesWritten

  test("statuses under MoR and CoW tables equal Hadoop's") {
    val mor = table("mor")
    mor.bulkInsert(rows(1 to 200, 0))
    mor.upsert(rows(1 to 200 by 3, 1))
    mor.compact()
    mor.upsert(rows(1 to 200 by 7, 2))
    val cow = table("cow", bloomKeys = 100)
    cow.bulkInsert(rows(1 to 200, 0))
    cow.upsert(rows(1 to 200 by 3, 1))
    cow.delete(rows(1 to 200 by 11, 1).select("pk"))
    cow.deleteDv(rows(2 to 200 by 13, 1).select("pk"))
    val hadoop = hadoopRaw()
    Seq(mor, cow).foreach { t =>
      val root = Paths.get(t.config.root)
      val all = Files.walk(root).iterator.asScala.toSeq
      val engine = LocalFs.of(new Path(root.toUri), hconf)
      val raw = engine.asInstanceOf[LocalFs].getRawFileSystem
      val (dirs, files) = all.partition(Files.isDirectory(_))
      assert(files.count(_.toString.endsWith(".parquet")) >= 10)
      assert(files.exists(_.getFileName.toString.endsWith(".crc")))
      all.foreach { p =>
        val hp = new Path(p.toUri)
        val e = engine.getFileStatus(hp)
        assert(e.getClass == classOf[FileStatus], s"$hp: not built in-process")
        assert(fields(e) == fields(hadoop.getFileStatus(hp)), hp)
      }
      // a listing builds its entries the same way; a file lists as itself
      dirs.foreach { d =>
        val hp = new Path(d.toUri)
        val e = raw.listStatus(hp).map(fields).sortBy(_._1.toString)
        val h = hadoop.listStatus(hp).map(fields).sortBy(_._1.toString)
        assert(e.toSeq == h.toSeq, hp)
      }
      files.take(5).foreach { f =>
        val hp = new Path(f.toUri)
        assert(raw.listStatus(hp).map(fields).toSeq ==
          hadoop.listStatus(hp).map(fields).toSeq, hp)
      }
      // `listFiles`, as the writer lists a commit dir, sees the same files
      val it = engine.listFiles(new Path(root.resolve("data").toUri), true)
      val listed = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(s => s.getPath.toUri.getPath -> s.getPermission).toMap
      val dataFiles = files.filter(_.startsWith(root.resolve("data")))
        .filterNot(_.getFileName.toString.endsWith(".crc"))
      assert(listed.keySet == dataFiles.map(_.toString).toSet)
      // a commit dir holds data and checksums, no committer marker
      assert(!files.exists(_.getFileName.toString.contains("_SUCCESS")))
    }
    intercept[java.io.FileNotFoundException](
      LocalFs.of(new Path("file:///nonexistent-localfs/x"), hconf)
        .getFileStatus(new Path("file:///nonexistent-localfs/x")))
  }

  test("setPermission round-trips plain and sticky-bit modes") {
    val dir = Files.createTempDirectory("localfs_perm")
    val engine = LocalFs.of(new Path(dir.toUri), hconf)
    val hadoop = hadoopRaw()
    val file = new Path(dir.toUri.toString, "f")
    engine.create(file, true).close()
    val sub = new Path(dir.toUri.toString, "d")
    assert(engine.mkdirs(sub))
    Seq(file, sub).foreach { p =>
      Seq("644", "600", "755", "700").foreach { m =>
        val want = new FsPermission(Integer.parseInt(m, 8).toShort)
        engine.setPermission(p, want)
        assert(engine.getFileStatus(p).getPermission == want, s"$p $m")
        assert(hadoop.getFileStatus(p).getPermission == want, s"$p $m")
      }
    }
    // the `unix` view's mode carries the sticky bit (the `posix` view's
    // permission set cannot)
    val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
    engine.setPermission(sub, sticky)
    assert(engine.getFileStatus(sub).getPermission == sticky)
    assert(hadoop.getFileStatus(sub).getPermission == sticky)
    assert(engine.getFileStatus(sub).getPermission.getStickyBit)
    // and a plain mode clears it again, as chmod does
    val plain = new FsPermission(Integer.parseInt("755", 8).toShort)
    engine.setPermission(sub, plain)
    assert(hadoop.getFileStatus(sub).getPermission == plain)
  }

  test("a lake write goes through LocalFs unless fs.file.impl is set") {
    val root = new Path(freshRoot())
    val engineRaw = classOf[LocalFs.Raw]
    val stockRaw = classOf[RawLocalFileSystem]
    assert(hconf.get("fs.file.impl") == null)
    assert(LocalFs.writeOptions(root, hconf).get("fs.file.impl")
      .contains(classOf[LocalFs].getName))
    assert(LocalFs.of(root, hconf).isInstanceOf[LocalFs])
    // one conf reuses one handle
    assert(LocalFs.of(root, hconf) eq LocalFs.of(new Path(freshRoot()), hconf))
    // object stores and HDFS keep their own filesystems
    assert(!LocalFs.covers(new Path("s3a://bucket/tbl"), hconf))
    assert(!LocalFs.covers(new Path("hdfs://nn:8020/tbl"), hconf))

    val t = LakeTable(spark, LakeTableConfig(root.toString,
      keyCols = Seq("pk"), precombineCol = "ts", partitionCols = Seq("part"),
      storageType = "mor"))
    t.bulkInsert(rows(1 to 100, 0))
    val (e0, s0) = (bytesWrittenBy(engineRaw), bytesWrittenBy(stockRaw))
    t.upsert(rows(1 to 100 by 4, 1))
    assert(bytesWrittenBy(engineRaw) > e0)
    assert(bytesWrittenBy(stockRaw) == s0,
      "a lake write wrote through Hadoop's stock local filesystem")

    // an explicit fs.file.impl (SnapshotSpec's counting filesystem) wins
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(hconf.get(k)))
    hconf.set("fs.file.impl", classOf[LogListingFs].getName)
    hconf.setBoolean("fs.file.impl.disable.cache", true)
    try {
      assert(!LocalFs.covers(root, hconf))
      assert(LocalFs.writeOptions(root, hconf).keySet ==
        Set("mapreduce.fileoutputcommitter.marksuccessfuljobs"))
      assert(LocalFs.of(root, hconf).isInstanceOf[LogListingFs])
      val (e1, s1) = (bytesWrittenBy(engineRaw), bytesWrittenBy(stockRaw))
      val l1 = LogListingFs.listings.get
      t.upsert(rows(1 to 100 by 5, 2))
      assert(bytesWrittenBy(engineRaw) == e1)
      assert(bytesWrittenBy(stockRaw) > s1)
      assert(LogListingFs.listings.get > l1)
    } finally saved.foreach { case (k, v) => v.fold(hconf.unset(k))(hconf.set(k, _)) }
    assert(t.read().count() == 100)
  }
}
