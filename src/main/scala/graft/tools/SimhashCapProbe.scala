package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** maxBucket cost-ladder probe for the simhash near-dup operators. The
  * r14 exact-complete refine made `maxBucket` a pure cost knob (when to
  * descend a pigeonhole level), not a recall knob — every cap MUST
  * produce the identical pair set. This main measures where on the
  * ladder the sf10 cost curve actually bottoms out for both the batch
  * (`Dedup.simhashPairs`) and incremental (`Dedup.incrementalSimhashPairs`,
  * the r14 weak item: e≈1.21, 110.9 s at sf10 with maxBucket=8000) paths,
  * and CERTIFIES set-identity across caps with a commutative pair-set
  * hash (XOR-fold of xxhash64 over (id_a, id_b, hamming)) plus the count.
  *
  * Run: SPARK_GRAFT_SF_DIR=/tmp/graft_sf10 SPARK_DRIVER_MEM=64g \
  *   sbt "runMain graft.tools.SimhashCapProbe [caps=8000,2000,1000,500]"
  */
object SimhashCapProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_sf1")
    val caps: Seq[Int] =
      if (args.nonEmpty) args(0).split(",").toIndexedSeq.map(_.trim.toInt)
      else Seq(8000, 2000, 1000, 500)
    // "batch" | "incr" | "both" (default): repeat a one-sided ladder to
    // separate cap effects from single-box noise
    val mode = if (args.length > 1) args(1) else "both"
    val spark = graft.GraftSession.start(graft.GraftSession.cpus)

    val docs = graft.Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))

    // (count, commutative set hash) — order-free so plans may differ;
    // XOR-fold (not sum: ANSI mode overflows a sum of 2^63-scale hashes)
    def fingerprint(pairs: DataFrame): (Long, Long) = {
      val r = pairs
        .select(xxhash64(col("id_a"), col("id_b"), col("hamming")).as("__x"))
        .agg(count(lit(1)).as("n"),
          coalesce(expr("bit_xor(__x)"), lit(0L)).as("h"))
        .head()
      (r.getLong(0), r.getLong(1))
    }

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val v = f
      (v, (System.nanoTime() - t0) / 1e9)
    }

    var batchFp: Option[(Long, Long)] = None
    var incrFp: Option[(Long, Long)] = None
    for (cap <- caps) {
      if (mode != "incr") {
        val ((bn, bh), bt) = timed(fingerprint(
          graft.ops.Dedup.simhashPairs(docs, "doc_id", "text",
            maxHamming = 7, maxBucket = cap)))
        println(f"PROBE batch cap=$cap%-6d $bt%8.2f s  pairs=$bn hash=$bh")
        require(batchFp.forall(_ == (bn, bh)),
          s"batch pair set CHANGED at cap=$cap: got ($bn,$bh), want ${batchFp.get}")
        batchFp = Some((bn, bh))
      }
      if (mode != "batch") {
      // incremental twin: seed the store with the %10!=0 majority, probe
      // with the %10==0 batch — the exact shape of `incr_simhash_pairs`,
      // INCLUDING discarding the seed call's pair set unexecuted (its
      // eager side effect is the store append; counting its old-vs-store
      // pairs would add a giant-seed-batch join the ledger never runs)
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_shcap_${cap}_").toString + "/store"
      val old = docs.filter(col("doc_id") % 10 =!= 0)
      val fresh = docs.filter(col("doc_id") % 10 === 0)
      val (_, st) = timed {
        graft.ops.Dedup.incrementalSimhashPairs(old, "doc_id", "text", dir,
          maxHamming = 7, maxBucket = cap)
        ()
      }
      val ((in, ih), it) = timed(fingerprint(
        graft.ops.Dedup.incrementalSimhashPairs(fresh, "doc_id", "text", dir,
          maxHamming = 7, maxBucket = cap)))
      println(f"PROBE incr  cap=$cap%-6d ${st + it}%8.2f s (seed=$st%.2f probe=$it%.2f)  pairs=$in hash=$ih")
      require(incrFp.forall(_ == (in, ih)),
        s"incr pair set CHANGED at cap=$cap: got ($in,$ih), want ${incrFp.get}")
      incrFp = Some((in, ih))
      }
    }
    spark.stop()
  }
}
