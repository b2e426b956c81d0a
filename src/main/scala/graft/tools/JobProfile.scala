package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Per-query scheduling profile: run each named query once (count()
  * action, same as the bench) under a listener and report how many
  * jobs/stages/tasks it schedules and the executor-side task-time sum vs
  * the wall clock. Wall >> task-time means the query is bound by
  * driver-side work (planning, job launch latency, sequential driver
  * loops), not by compute — the guide §1 "where is the time" split at
  * local[32] granularity.
  *
  * Usage: runMain graft.tools.JobProfile <sfDir> [cpus] [query...]
  * (cpus defaults to SPARK_GRAFT_CPUS; no query names profiles all)
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = args.lift(1).fold(graft.GraftSession.cpus)(_.toInt)
    val names = args.drop(2).toSeq
    val spark = graft.GraftSession.start(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskMs = 0L
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages += 1
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks += 1
        if (t.taskMetrics != null)
          taskMs += t.taskMetrics.executorRunTime
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // warmup identical to Bench
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val byName = graft.Queries.all.map(q => q.name -> q).toMap
    val sel = if (names.nonEmpty) names else graft.Queries.all.map(_.name)
    println(f"${"query"}%-28s ${"run"}%3s ${"jobs"}%5s ${"stages"}%7s ${"tasks"}%6s ${"taskSec"}%8s ${"wallSec"}%8s")
    sel.foreach { n =>
      byName.get(n).foreach { q =>
        (1 to 2).foreach { run =>
          jobs = 0; stages = 0; tasks = 0; taskMs = 0L
          val t0 = System.nanoTime()
          q.fn(spark, sfDir).count()
          val wall = (System.nanoTime() - t0) / 1e9
          // deliver every posted listener event before reading counters
          org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
          println(f"$n%-28s $run%3d $jobs%5d $stages%7d $tasks%6d ${taskMs / 1e3}%8.2f $wall%8.2f")
        }
        // drain BETWEEN queries only (the Bench rule): a query's repeat
        // may re-read scratch its first construction wrote
        graft.Queries.drainScratch()
      }
    }
    spark.stop()
  }
}
