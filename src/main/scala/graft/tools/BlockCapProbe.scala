package graft.tools

import org.apache.spark.sql.functions._

/** Stage-level timer for the shard-capped blocking pattern the
  * `dedup_embedding_cosine` / `knn_graph_blocked` ledger queries use
  * (label split into ceil(count/512) vec_id-modulus shards). The r14
  * sf1 bench re-pair measured a ~3-5 s CONSTANT appearing exactly when
  * the cap activates (nsh > 1), invariant from sf1 to sf10 — this main
  * attributes it: corpus scan, per-label count agg, count join, then
  * each operator sharded vs unsharded, twice each (plan-compile vs
  * steady-state) — except `cos_unsharded`, run ONCE: it is the probe's
  * most expensive leg by far at sf1+ (the uncapped quadratic this whole
  * pattern exists to avoid), and attribution only needs its order of
  * magnitude, not a compile/steady split.
  *
  * Run: SPARK_GRAFT_SF_DIR=/tmp/graft_sf1 sbt "runMain graft.tools.BlockCapProbe"
  * Runs on the Bench/Verify session (`graft.GraftSession`) at
  * SPARK_GRAFT_CPUS, so it times the plans those mains run.
  */
object BlockCapProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_sf1")
    val spark = graft.GraftSession.start(graft.GraftSession.cpus)
    def t(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"PROBE $name%-18s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
    }
    val emb = graft.Tables.table(spark, sfDir, "embeddings")
    t("scan")(emb.count()); t("scan2")(emb.count())
    val nShards = emb.groupBy(col("label"))
      .agg(ceil(count(lit(1)) / lit(512.0)).as("__nsh"))
    t("agg")(nShards.count())
    val blocked = emb.join(nShards, "label")
      .withColumn("__cblk",
        concat_ws("#", col("label"), pmod(col("vec_id"), col("__nsh"))))
    t("join")(blocked.count()); t("join2")(blocked.count())
    t("knn_sharded")(graft.ops.Similarity
      .knnGraphBlocked(blocked, "vec_id", "embedding", "__cblk", 5).count())
    t("knn_sharded2")(graft.ops.Similarity
      .knnGraphBlocked(blocked, "vec_id", "embedding", "__cblk", 5).count())
    t("knn_unsharded")(graft.ops.Similarity
      .knnGraphBlocked(emb, "vec_id", "embedding", "label", 5).count())
    t("knn_unsharded2")(graft.ops.Similarity
      .knnGraphBlocked(emb, "vec_id", "embedding", "label", 5).count())
    t("cos_sharded")(graft.ops.Dedup
      .embeddingCosinePairs(blocked, "vec_id", "embedding", "__cblk", 0.3).count())
    t("cos_sharded2")(graft.ops.Dedup
      .embeddingCosinePairs(blocked, "vec_id", "embedding", "__cblk", 0.3).count())
    t("cos_unsharded")(graft.ops.Dedup
      .embeddingCosinePairs(emb, "vec_id", "embedding", "label", 0.3).count())
    spark.stop()
  }
}
