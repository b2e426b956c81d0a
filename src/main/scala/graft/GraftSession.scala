package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration every entry point runs on: Bench,
  * Verify, Explain, Stress, ScaleData, the `graft.tools` mains and the
  * test suites. Written once so the AQE plans the oracle gate checks
  * are the plans the bench times. A caller that needs a different
  * runtime conf sets it with `spark.conf.set` after [[start]].
  *
  * Extensions are NOT installed here: `TopKRewrite` and the SQL
  * functions would change the plans of unrelated ledger queries, so
  * the queries that want them install them per call.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` (default 4): master threads and shuffle width. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Every conf [[start]] puts on the builder, in order. */
  private[graft] def confs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    // let AQE coalesce tiny shuffle outputs down to the data size
    // instead of keeping one partition per core: at bench scale most
    // post-shuffle stages carry a few MB, and 32 near-empty tasks per
    // stage (plus 32 output files per round table) cost more in
    // scheduling than the work itself. At 100 TB the same setting is
    // what stops a 10k-partition shuffle from emitting 10k tiny files
    // after a selective filter.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m",
    // Checkpoint I/O (FileContext API) through the RAW local fs:
    // Hadoop's default local AbstractFileSystem is checksummed, so
    // every streaming WAL entry, offset/commit log and HDFS-backed
    // state delta writes a .crc sidecar and re-reads it on open —
    // doubled file ops on the per-micro-batch hot path. The raw
    // rebind affects only the `file` scheme's FileContext users (the
    // checkpoint stack); FileSystem-API users (parquet scans/writes,
    // RocksDB's file manager, which REQUIRES the checksummed
    // FileSystem for its commit protocol) are untouched. On a
    // cluster checkpoints live on HDFS/object stores and the knob is
    // inert. Measured r17: incr_stream_join's stream phase drops
    // 2.66-2.81 s -> 1.84-2.01 s, confirmed in both A/B orders.
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      "org.apache.hadoop.fs.local.RawLocalFs")

  def start(cpus: Int): SparkSession = {
    val spark = confs(cpus)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // FileSystem-API twin of the FileContext rebind above: stop the
    // cached local FileSystem from WRITING .crc sidecars (scratch
    // parquet/json/orc, store appends, sink rewrites). Same class, same
    // rename/commit semantics — only sidecar creation is skipped, so
    // RocksDB's checksummed-FileSystem commit protocol is unaffected
    // (the full RawLocalFileSystem rebind broke it and was reverted).
    // local[*] shares one JVM-wide FileSystem cache entry, so one call
    // covers driver and executors.
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    fs.setWriteChecksum(false)
    fs.setVerifyChecksum(false)
    // the MaxByRow aggregation threshold (see GraftExtensions.recommendedConfs)
    GraftExtensions.applyRecommendedConfs(spark)
    spark
  }

  /** The session's shuffle width, for operators that pin an explicit
    * repartition count (exempt from AQE coalescing) on exploding stages.
    * Spark rejects non-positive and non-integer values when the conf is
    * set, so the read cannot fail.
    */
  def shuffleWidth(spark: SparkSession): Int =
    math.max(spark.conf.get("spark.sql.shuffle.partitions").toInt, 1)
}
