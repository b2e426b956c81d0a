package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The session every workload runs on: the confs `graft.Bench` sets, at
  * `local[cpus]`, with Spark's scratch and warehouse dirs inside the
  * benchmark's work dir.
  */
object Session {

  def start(cpus: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "org.apache.hadoop.fs.local.RawLocalFs")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    fs.setWriteChecksum(false)
    fs.setVerifyChecksum(false)
    spark
  }

  /** Bench's warm-up: one codegen'd job, then one row of every harness
    * table present, so relation resolution and the page cache are filled.
    */
  def warmUp(spark: SparkSession, sfDir: Option[String]): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    sfDir.foreach { d =>
      def present(t: String) = new java.io.File(s"$d/$t.parquet").exists()
      Seq("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "embeddings").filter(present).foreach { t =>
        graft.Tables.table(spark, d, t).limit(1).collect()
      }
      if (present("events")) graft.Tables.events(spark, d).limit(1).collect()
    }
  }

  def stop(spark: SparkSession): Unit = {
    graft.Tables.invalidate(spark)
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
