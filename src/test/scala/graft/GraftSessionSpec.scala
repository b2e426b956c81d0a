package graft

/** The shared test session is Bench's session: every conf
  * [[GraftSession.start]] sets holds with Bench's value, except the two
  * derived from the core count (master and shuffle width), which the
  * suites pin at 4. It also fails when a suite that ran earlier in the
  * shared JVM changed one of these confs and did not restore it.
  */
class GraftSessionSpec extends SparkTestBase {

  private val widthKeys = Set("spark.master", "spark.sql.shuffle.partitions")

  test("the test session carries every conf Bench's session sets") {
    GraftSession.confs(GraftSession.cpus)
      .filterNot { case (k, _) => widthKeys(k) }
      .foreach { case (k, v) => assert(spark.conf.get(k) == v, s"conf $k") }
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    GraftExtensions.recommendedConfs.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, s"recommended conf $k")
    }
    // the spark.hadoop.* rebind reaches the Hadoop configuration the
    // checkpoint stack's FileContext is built from
    assert(spark.sparkContext.hadoopConfiguration
      .get("fs.AbstractFileSystem.file.impl") == "org.apache.hadoop.fs.local.RawLocalFs")
  }

  test("the local FileSystem writes no .crc sidecars") {
    val dir = java.nio.file.Files.createTempDirectory("graft_crc_")
    spark.range(10).write.mode("overwrite").parquet(s"$dir/t")
    val names = dir.resolve("t").toFile.list().toSeq
    assert(names.exists(_.startsWith("part-")), names)
    assert(!names.exists(_.endsWith(".crc")), names)
  }

  test("shuffleWidth reads the shuffle width; Spark rejects non-integer widths") {
    val k = "spark.sql.shuffle.partitions"
    assert(GraftSession.shuffleWidth(spark) == 4)
    val prev = spark.conf.get(k)
    try {
      spark.conf.set(k, "7")
      assert(GraftSession.shuffleWidth(spark) == 7)
      // a value such as "auto" never reaches the read: the set fails, and
      // the width in force stays an integer
      Seq("auto", "0", "-1").foreach { bad =>
        intercept[IllegalArgumentException](spark.conf.set(k, bad))
      }
      assert(GraftSession.shuffleWidth(spark) == 7)
    } finally spark.conf.set(k, prev)
  }
}
