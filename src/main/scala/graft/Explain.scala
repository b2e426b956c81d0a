package graft

/** Plan-inspection utility: prints the formatted physical plan of each
  * named query (or all) against a given sf dir, on Bench's session at
  * `SPARK_GRAFT_CPUS`. Used to keep scans pruned/pushed and joins
  * broadcast where they should be.
  *
  * Usage: runMain graft.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else Queries.all.map(_.name)
    val spark = GraftSession.start(GraftSession.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val byName = Queries.all.map(q => q.name -> q).toMap
    names.foreach { n =>
      println(s"\n========== $n ==========")
      byName.get(n) match {
        case Some(q) => println(q.fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        case None => println(s"unknown query: $n")
      }
    }
    spark.stop()
  }
}
