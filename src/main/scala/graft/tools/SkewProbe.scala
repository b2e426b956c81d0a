package graft.tools
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler._
object SkewProbe {
  def main(args: Array[String]): Unit = {
    // local[4] and 16 shuffle partitions: the SkewExtensionsSpec fixture
    // this probe calibrates
    val s = graft.GraftSession.start(4)
    s.conf.set("spark.sql.shuffle.partitions", "16")
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s.implicits._
    val large = (1 to 200000)
      .map(i => (if (i % 10 != 0) 7L else i.toLong, i)).toDF("k", "v")
    val medium = (1L to 500L).map(k => (k, s"m$k")).toDF("k", "name")
    // partition sizes via the AQE plan's shuffle stats
    def sizes(df: org.apache.spark.sql.DataFrame, label: String): Unit = {
      df.collect()
      val plan0 = df.queryExecution.executedPlan
      val plan = plan0 match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case other => other
      }
      def walk(n: org.apache.spark.sql.execution.SparkPlan): Unit = {
        n match {
          case q: org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec =>
            q.mapStats.foreach { m =>
              val sz = m.bytesByPartitionId
              println(s"$label stage=${q.id} parts=${sz.length} max=${sz.max} " +
                s"sum=${sz.sum} top5=${sz.sorted.reverse.take(5).mkString(",")}")
            }
            walk(q.plan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            walk(q.plan)
          case other => other.children.foreach(walk)
        }
      }
      walk(plan)
    }
    sizes(large.join(medium, Seq("k")).select("k","v","name"), "UNSALTED")
    sizes(graft.ops.Skew.saltedJoinAdaptive(large, medium, "k", col("v"),
      salts = 16, hotKeyMinRows = 100, sampleFraction = 0.5)
      .select("k","v","name"), "SALTED16")
    s.stop()
  }
}
