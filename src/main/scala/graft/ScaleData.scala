package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesizes an sf1-equivalent corpus by replicating the sf0.1
  * harness tables `copies`× with disjoint key spaces, so the FULL
  * 226-query ledger (not just the Stress operator cores) can be
  * benchmarked a decade above the driver's gate — with a DuckDB twin
  * on the very same parquet files.
  *
  * Replication rules (all deterministic, never `rand()`):
  *  - every key column shifts by `copy * (max(key)+1)` and foreign keys
  *    shift by their REFERENCED table's offset, so join fan-outs,
  *    per-key cardinalities, and filter selectivities are copy-invariant
  *    — data volume scales 10×, data SHAPE does not change;
  *  - `region`/`nation` stay fixed (TPC-H semantics: dimension tables
  *    do not scale with SF);
  *  - generated names re-derive from the shifted key
  *    (`Customer#%09d` / `Supplier#%09d`), keeping name↔key consistency
  *    for the fuzzy-blocking operators;
  *  - `documents.text` gets a per-copy word-level perturbation (every
  *    3rd word suffixed `~c`): copies are NOT near-duplicates of each
  *    other, so MinHash/SimHash/shingle dup structure scales linearly
  *    (10× docs ⇒ 10× dup pairs) instead of quadratically in copies —
  *    replicating text verbatim would bench a 10-way-duplicated corpus,
  *    a different (denser) problem than a bigger corpus. `n_chars`
  *    re-derives from the perturbed text. Copy 0 is byte-identical to
  *    the source, so key-anchored point lookups still hit;
  *  - `embeddings.embedding` nudges dimension 0 by `copy * 1e-3`
  *    (unit-cube coordinates): vector geometry is preserved while exact
  *    duplicate vectors are not mass-produced across copies;
  *  - `events` keeps timestamps (the window span is a corpus property;
  *    10× rows in the same span = 10× arrival rate) and shifts
  *    `user_id`, so per-user session/journey shapes stay constant and
  *    the user population carries the growth.
  *
  * Each table lands as a DIRECTORY named `{table}.parquet` holding
  * multiple part files (sized ~16 MB): `graft.Tables` reads the
  * directory natively, the DuckDB twin globs the part files inside it
  * (tools/compare.py and tools/baseline.py auto-detect the layout),
  * and — unlike the harness's single-file layout — the FIRST map stage
  * of every query scans in parallel, which is the property a 100 TB
  * table actually has. A single file would serialize stage 1 of every
  * scan at this volume (a coalesce(1) parquet has one row group; byte-
  * range splitting cannot parallelize it).
  *
  * Run: `sbt "runMain graft.ScaleData <srcDir> <dstDir> [copies=10]"`.
  */
object ScaleData {

  /** Offset = max(key)+1 of the SOURCE table, the replication stride. */
  private def stride(df: DataFrame, key: String): Long =
    df.agg(max(col(key))).head.getLong(0) + 1L

  private def replicate(df: DataFrame, copies: Int)
                       (tx: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until copies).map(c => tx(df, c)).reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleData <srcDir> <dstDir> [copies]")
    val (srcDir, dstDir) = (args(0), args(1))
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.start(GraftSession.cpus)

    def src(t: String) = spark.read.parquet(s"$srcDir/$t.parquet")

    val custOff = stride(src("customer"), "c_custkey")
    val suppOff = stride(src("supplier").withColumn("s_suppkey",
      col("s_suppkey").cast("long")), "s_suppkey")
    val partOff = stride(src("part"), "p_partkey")
    val ordOff = stride(src("orders"), "o_orderkey")
    val evtOff = stride(src("events"), "event_id")
    val userOff = stride(src("events"), "user_id")
    val docOff = stride(src("documents"), "doc_id")
    val vecOff = stride(src("embeddings"), "vec_id")

    val out: Seq[(String, DataFrame)] = Seq(
      "region" -> src("region"),
      "nation" -> src("nation"),
      "customer" -> replicate(src("customer"), copies) { (d, c) =>
        d.withColumn("c_custkey", col("c_custkey") + lit(c * custOff))
          .withColumn("c_name",
            concat(lit("Customer#"), lpad(col("c_custkey").cast("string"), 9, "0")))
      },
      "supplier" -> replicate(src("supplier"), copies) { (d, c) =>
        d.withColumn("s_suppkey", col("s_suppkey") + lit(c * suppOff))
          .withColumn("s_name",
            concat(lit("Supplier#"), lpad(col("s_suppkey").cast("string"), 9, "0")))
      },
      "part" -> replicate(src("part"), copies) { (d, c) =>
        d.withColumn("p_partkey", col("p_partkey") + lit(c * partOff))
      },
      "orders" -> replicate(src("orders"), copies) { (d, c) =>
        d.withColumn("o_orderkey", col("o_orderkey") + lit(c * ordOff))
          .withColumn("o_custkey", col("o_custkey") + lit(c * custOff))
      },
      "lineitem" -> replicate(src("lineitem"), copies) { (d, c) =>
        d.withColumn("l_orderkey", col("l_orderkey") + lit(c * ordOff))
          .withColumn("l_partkey", col("l_partkey") + lit(c * partOff))
          .withColumn("l_suppkey", col("l_suppkey") + lit(c * suppOff))
      },
      "events" -> replicate(src("events"), copies) { (d, c) =>
        d.withColumn("event_id", col("event_id") + lit(c * evtOff))
          .withColumn("user_id", col("user_id") + lit(c * userOff))
      },
      "documents" -> replicate(src("documents"), copies) { (d, c) =>
        val perturbed =
          if (c == 0) d
          else d.withColumn("text", concat_ws(" ",
              expr(s"transform(split(text, ' '), (w, i) -> " +
                s"IF(i % 3 = 2, concat(w, '~$c'), w))")))
            .withColumn("n_chars", length(col("text")).cast("long"))
        perturbed.withColumn("doc_id", col("doc_id") + lit(c * docOff))
      },
      "embeddings" -> replicate(src("embeddings"), copies) { (d, c) =>
        d.withColumn("vec_id", col("vec_id") + lit(c * vecOff))
          .withColumn("embedding",
            expr(s"transform(embedding, (x, i) -> " +
              s"IF(i = 0, CAST(x + $c * 0.001 AS FLOAT), x))"))
      })

    // 32-way parts for every scaled table (one per bench core): scan
    // parallelism must track COMPUTE, not disk bytes — documents is
    // 6 MB on disk but its tokenize/shingle explosions are GBs wide, so
    // sizing parts by file size would serialize exactly the stages that
    // hurt. Dimension seeds stay single-file.
    out.foreach { case (t, df) =>
      val parts = if (t == "region" || t == "nation") 1 else 32
      df.repartition(parts)
        .write.mode("overwrite").parquet(s"$dstDir/$t.parquet")
      println(s"[scaledata] $t: $parts part files written")
    }
    spark.stop()
  }
}
