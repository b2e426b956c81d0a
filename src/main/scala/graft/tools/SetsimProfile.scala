package graft.tools

/** Scale profiler for `prefixFilteredJaccardPairs` (round 14, VERDICT
  * item 6): times the operator's three stages independently at any SF
  * so the sf10 cost (52 s at 500k docs in the r13 probe) can be
  * attributed to (1) the ordered-set build (shingle explode + banded
  * vocabulary rank + per-doc sort), (2) candidate generation (prefix
  * self-join + PPJoin positional filter + distinct), or (3) exact
  * verification (pair re-join + array_intersect). Prints per-stage
  * seconds and the candidate:verified ratio — the number that decides
  * whether tightening the filter (fewer candidates) or the verify loop
  * (cheaper per candidate) is the next lever.
  *
  * Run: SPARK_GRAFT_SF_DIR=/tmp/graft_sf10 sbt "runMain graft.tools.SetsimProfile"
  */
object SetsimProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.start(graft.GraftSession.cpus)
    val docs = graft.Tables.documents(spark, sfDir)
    // the ledger query's parameters (setsim_prefix_join)
    val (n, threshold) = (3, 0.5)
    def timed[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[setsim] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt
    (1 to runs).foreach { i =>
      println(s"[setsim] --- run $i ---")
      val ordered = timed("stage1 ordered-set build (checkpointed)") {
        graft.ops.Dedup.setsimOrdered(docs, "doc_id", "text", n, threshold)
      }
      val nDocs = ordered.count()
      val cands = timed("stage2 candidate generation (materialized)") {
        val c = graft.ops.Dedup
          .setsimCandidates(ordered, "doc_id", threshold)
          .localCheckpoint(true)
        c
      }
      val nCands = cands.count()
      val nVerified = timed("stage3 exact verification") {
        graft.ops.Dedup.setsimVerify(ordered, cands, "doc_id", threshold)
          .count()
      }
      println(s"[setsim] docs=$nDocs candidates=$nCands verified=$nVerified " +
        f"selectivity=${if (nCands == 0) 0.0 else nVerified.toDouble / nCands}%.4f")
    }
    spark.stop()
  }
}
