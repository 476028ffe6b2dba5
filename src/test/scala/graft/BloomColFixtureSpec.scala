package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The column-bloom fixture behind `lake_bloom_col_point` asserts that
  * the `ref` value blooms pruned at least one live file. That must hold
  * at every core count the bench runs, so the fixture's layout may not
  * follow `spark.sql.shuffle.partitions`.
  */
class BloomColFixtureSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("bloom-col fixture prunes at 2, 8 and 32 shuffle partitions") {
    // a lineitem-shaped input: 30k orders of 2 lines; the probe key
    // class (l_orderkey % 9973 = 7) is orders 7, 9980, 19953, 29926
    val d = Files.createTempDirectory("bloomcol").toString
    spark.range(1, 30001)
      .select(col("id").as("l_orderkey"),
        explode(array(lit(1), lit(2))).as("l_linenumber"),
        lit("N").as("l_returnflag"),
        (col("id") % 50).cast("decimal(12,2)").as("l_quantity"),
        lit(java.sql.Date.valueOf("1995-01-01")).as("l_shipdate"))
      .write.parquet(s"$d/lineitem.parquet")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try Seq(2, 8, 32).foreach { p =>
      spark.conf.set("spark.sql.shuffle.partitions", p.toString)
      val t = ops.Lake.buildBloomColTable(spark, d, s"$d/tbl_$p")
      val live = t.log.liveFiles().size
      // bloomColPoint itself fails when the blooms pruned nothing
      val out = ops.Lake.bloomColPoint(spark, d, t)
      assert(t.lastReadFiles < live, s"$p partitions: ${t.lastReadFiles} of $live")
      assert(out.count() == 8, s"$p partitions")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
