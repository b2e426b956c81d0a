package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Numeric feature preparation for training pipelines: outlier clipping
  * and range normalization. Both are formulated ENGINE-EXACT — order
  * statistics via integer rank arithmetic (no interpolated percentile,
  * whose rounding differs across engines) and min/max (order-independent
  * aggregates), so row-level outputs hash-match an independent SQL
  * oracle with no rounding anywhere.
  */
object Features {

  /** Winsorize `valueCol` per group to [p_low, p_high] given as
    * percents: the bounds are the values at integer ranks
    * ceil(n*p/100) (low, clamped to >= 1) and floor(n*p/100) of the
    * ascending sort — actual stored values, never interpolations.
    *
    * Scale shape: one rank window and the bounds aggregation hash by
    * the same group key, then the per-group bounds (rows = groups)
    * re-join the rows WITHOUT a broadcast hint — group cardinality is
    * caller-defined (per-user normalization at corpus scale means
    * millions of groups), so AQE broadcasts the bounds only when their
    * runtime size permits and otherwise the join shuffles on the
    * group key the fact side already hashes by.
    */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
                pLowPct: Int, pHighPct: Int): DataFrame = {
    require(0 <= pLowPct && pLowPct < pHighPct && pHighPct <= 100)
    // ranks over NON-NULL values and group keys only: nulls sort first
    // under the default ordering, so an order-statistic rank could
    // otherwise land on a null and silently disable that side's
    // clipping (Spark's least/greatest skip nulls); a null group key's
    // bounds row could never match the null-unsafe join below, so
    // ranking that partition would be dead work
    val nonNull = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
    val w = Window.partitionBy(groupCol).orderBy(col(valueCol))
    val ranked = nonNull
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(groupCol)))
    // integer ceil/floor division (Spark's / is fractional; div keeps
    // the rank cut in exact integer arithmetic)
    val loRank = greatest(expr(s"(__n * $pLowPct + 99) div 100"), lit(1L))
    // hiRank >= loRank so both bounds always exist (tiny groups clip to
    // a single value instead of a null bound with engine-varying
    // least/greatest null semantics)
    val hiRank = greatest(expr(s"(__n * $pHighPct) div 100"), loRank)
    val bounds = ranked
      .groupBy(col(groupCol))
      .agg(
        min(when(col("__rn") === loRank, col(valueCol))).as("__lo"),
        max(when(col("__rn") === hiRank, col(valueCol))).as("__hi"))
    // LEFT join: rows with a null group key (excluded from ranking,
    // and unmatchable by the null-unsafe equi-join anyway) and rows
    // with a null value pass through unclipped rather than vanishing
    val unbounded = col(valueCol).isNull || col("__lo").isNull
    df.join(bounds, Seq(groupCol), "left")
      .withColumn(s"${valueCol}_clipped",
        when(unbounded, col(valueCol))
          .otherwise(least(greatest(col(valueCol), col("__lo")), col("__hi"))))
      .withColumn("was_clipped",
        when(unbounded, lit(false))
          .otherwise(col(valueCol) < col("__lo") || col(valueCol) > col("__hi")))
      .drop("__lo", "__hi")
  }

  /** Per-group min-max normalization to [0, 1]. min/max are
    * order-independent (exact on any engine); the scaled value is one
    * IEEE subtraction/division on stored values — bit-identical
    * everywhere. Constant groups (max == min) scale to null rather
    * than dividing by zero.
    */
  def minMaxScale(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val bounds = df.groupBy(col(groupCol))
      .agg(min(col(valueCol)).as("__min"), max(col(valueCol)).as("__max"))
    // LEFT join: a null group key has no bounds row; scale to null
    // instead of dropping the row
    df.join(bounds, Seq(groupCol), "left")
      .withColumn(s"${valueCol}_scaled",
        when(col("__max") === col("__min"), lit(null))
          .otherwise((col(valueCol) - col("__min")) / (col("__max") - col("__min"))))
      .drop("__min", "__max")
  }

  /** Exact DISCRETE quantiles per group — the value at rank
    * `ceil(q·n)` (1-indexed) for each requested permille, i.e. the
    * classic type-1 / `quantile_disc` definition. Selection, not
    * interpolation: the emitted values are stored doubles untouched by
    * arithmetic, so they are engine-exact where interpolating
    * percentiles are not. Null values are excluded up front (engines
    * disagree on null sort placement). Equal values make the rank
    * choice among them immaterial by construction.
    *
    * Scale shape: one group-keyed exchange; the rank window and the
    * per-group count share its sort, and the final reduction is a
    * map-side-combinable conditional max per quantile.
    */
  def quantilesDisc(df: DataFrame, groupCol: String, valueCol: String,
                    permille: Seq[Int]): DataFrame = {
    require(permille.nonEmpty && permille.forall(p => p > 0 && p <= 1000),
      "permille targets must be in (0, 1000]")
    val w = Window.partitionBy(col(groupCol)).orderBy(col(valueCol))
    val ranked = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol), col(valueCol))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(groupCol))))
    val picks = permille.map { p =>
      max(when(col("__rn") === expr(s"(__n * $p + 999) div 1000"),
        col(valueCol))).as(s"p$p")
    }
    ranked.groupBy(col(groupCol)).agg(picks.head, picks.tail: _*)
  }

  /** Exact INTERPOLATED quantiles per group — the linear (type-7 /
    * `percentile_cont`) definition, made engine-exact by spelling the
    * formula out instead of calling either engine's builtin: with
    * 1-indexed ascending ranks, position `(n−1)·p` (in milli units)
    * selects `lo` at rank `pos div 1000 + 1`, `hi` at the next rank,
    * and emits `lo + (hi − lo) · (frac / 1000.0)` where
    * `frac = pos mod 1000`. Both sides run the IDENTICAL IEEE ops on
    * the identical selected values, so results are bit-equal — the
    * builtins are not comparable across engines because each picks its
    * own formula variant and evaluation order ([[quantilesDisc]] exists
    * because of exactly that; this closes the interpolated half).
    *
    * Scale shape: identical to [[quantilesDisc]] — one group-keyed
    * exchange shared by the rank window, the count, and the final
    * map-side-combinable conditional-max reduction.
    */
  def quantilesCont(df: DataFrame, groupCol: String, valueCol: String,
                    permille: Seq[Int]): DataFrame = {
    require(permille.nonEmpty && permille.forall(p => p >= 0 && p <= 1000),
      "permille targets must be in [0, 1000]")
    val w = Window.partitionBy(col(groupCol)).orderBy(col(valueCol))
    val ranked = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol), col(valueCol))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(groupCol))))
    val picks = permille.flatMap { p =>
      val lo = expr(s"((__n - 1) * $p) div 1000 + 1")
      Seq(
        max(when(col("__rn") === lo, col(valueCol))).as(s"__lo$p"),
        max(when(col("__rn") === lo + 1, col(valueCol))).as(s"__hi$p"),
        max(expr(s"((__n - 1) * $p) % 1000")).as(s"__f$p"))
    }
    val agg = ranked.groupBy(col(groupCol)).agg(picks.head, picks.tail: _*)
    val outs = permille.map { p =>
      when(col(s"__f$p") === 0, col(s"__lo$p"))
        .otherwise(col(s"__lo$p") +
          (col(s"__hi$p") - col(s"__lo$p")) * (col(s"__f$p") / 1000.0))
        .as(s"p${p}_cont")
    }
    agg.select(col(groupCol) +: outs: _*)
  }

  /** 2-D Pareto front (skyline), maximizing both axes: the
    * non-dominated distinct (x, y) pairs via the classic sorted sweep —
    * a pair survives iff its y strictly exceeds every y seen at a
    * strictly better-or-equal x, computed as a running max over the
    * (x desc, y desc) order. O(n log n) where the naive dominance test
    * is an O(n²) self-join.
    *
    * Scale shape: the dominating reduction happens FIRST — one
    * map-side-combinable max-y-per-x aggregation — then LOCAL fronts
    * prune per partition before anything goes global: skylines compose
    * (the global front is the front of the union of local fronts), so
    * the single-partition sweep only ever sees Σ local-front sizes —
    * bounded by buckets × |front|, not by x-cardinality. Without
    * the pre-prune, every distinct x lands on ONE partition — the
    * classic global-window scale cliff (600 k rows at sf0.1; fatal at
    * 100 TB).
    *
    * The local front keys on a DETERMINISTIC spread bucket
    * (pmod(xxhash64(x), 32·shuffle-width), guide §2.5: many more
    * distinct keys than partitions, and never rand()-derived), behind an
    * explicit-count repartition. The first version keyed on
    * `spark_partition_id()` of the aggregate's output — but AQE's
    * input-size coalescing collapses the tiny-bytes aggregate to ONE
    * partition (the pair-generation blind spot: the window's SORT cost
    * is row-count-shaped, invisible to byte-based coalescing), making
    * both sweeps single-task global sorts run back to back (r18
    * JobProfile: 6 tasks total, 1.7-2.2 s of task time at sf0.1, ~85% of
    * it the two serial sorts). The explicit repartition is exempt from
    * AQE coalescing (the simhashPairs pattern), so the heavy sort runs
    * at full width and the global sweep sees only Σ bucket-front rows.
    */
  def paretoFront(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val perX = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).as("x")).agg(max(col(yCol)).as("y"))
    def sweepFront(in: DataFrame, part: Seq[Column]): DataFrame = {
      val w = (if (part.isEmpty) Window.orderBy(col("x").desc)
               else Window.partitionBy(part: _*).orderBy(col("x").desc))
        .rowsBetween(Window.unboundedPreceding, -1)
      in.withColumn("__mx", max(col("y")).over(w))
        .filter(col("__mx").isNull || col("y") > col("__mx"))
        .drop("__mx")
    }
    val shuffleN = graft.GraftSession.shuffleWidth(df.sparkSession)
    val spread = perX
      .withColumn("__bkt", pmod(xxhash64(col("x")), lit(32L * shuffleN)))
      .repartition(shuffleN, col("__bkt"))
    val local = sweepFront(spread, Seq(col("__bkt"))).drop("__bkt")
    sweepFront(local, Seq.empty)
      .select(col("x").as(xCol), col("y").as(yCol))
  }

  /** Robust per-group outlier profile via median absolute deviation:
    * the discrete median (the [[quantilesDisc]] rank selection, never
    * interpolation), the discrete median of |x − median|, and the count
    * of values with |x − median| > `k`·MAD — Hampel's robust outlier
    * identifier, the filter that survives the very outliers a
    * mean/stddev z-score is corrupted by. Both medians are SELECTIONS
    * of stored values and the deviation/threshold arithmetic is
    * row-level IEEE (subtract, abs, one multiply), so every engine
    * agrees bit-for-bit — no order-dependent accumulation anywhere.
    *
    * Scale shape: two rank windows and a final count, all keyed on the
    * same group column — one exchange reused three times. The group-max
    * broadcast-back is a join against a groups-sized (tiny) aggregate;
    * AQE turns it into a broadcast automatically.
    */
  def robustOutliersMad(df: DataFrame, groupCol: String, valueCol: String,
                        k: Int = 3): DataFrame = {
    val vals = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol), col(valueCol).as("v"))
    val wRank = Window.partitionBy(col(groupCol)).orderBy(col("v"))
    val wGrp = Window.partitionBy(col(groupCol))
    val med = vals
      .withColumn("__rn", row_number().over(wRank))
      .withColumn("__n", count(lit(1)).over(wGrp))
      .groupBy(col(groupCol))
      .agg(max(when(col("__rn") === expr("(__n * 500 + 999) div 1000"),
        col("v"))).as("median"))
    val dev = vals.join(med, groupCol)
      .withColumn("__d", abs(col("v") - col("median")))
    val wDev = Window.partitionBy(col(groupCol)).orderBy(col("__d"))
    dev
      .withColumn("__rn", row_number().over(wDev))
      .withColumn("__n", count(lit(1)).over(wGrp))
      .withColumn("mad", max(when(
        col("__rn") === expr("(__n * 500 + 999) div 1000"),
        col("__d"))).over(wGrp))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        max(col("median")).as("median"),
        max(col("mad")).as("mad"),
        sum(when(col("__d") > col("mad") * k, 1L).otherwise(0L))
          .as("n_outliers"))
  }

  /** Equal-frequency bin assignment per row: bin =
    * ((rank − 1) · nBins) div n over the group's (value, tie) order —
    * the decile/quantile-bucket feature encoder, defined by integer
    * rank arithmetic so every row's bin is engine-exact (ntile() is
    * NOT used: its remainder-distribution rule is engine-specific
    * lore; this formula is three integer ops any engine reproduces).
    * Bins are equal-count up to ±1 by construction; ties order by
    * `tieCol` so equal values may straddle a boundary determinate-ly
    * (document ranks, not value classes — the standard trade of
    * rank-based binning). Nulls drop. One rank window per group
    * carrying (id, group, value) — the [[winsorize]] shuffle shape.
    */
  def equalFrequencyBins(df: DataFrame, groupCol: String, valueCol: String,
                         tieCol: String, nBins: Int = 10): DataFrame = {
    require(nBins >= 2, "nBins must be >= 2")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(valueCol), col(tieCol))
    df.filter(col(valueCol).isNotNull)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(groupCol))))
      .withColumn("bin", expr(s"((__rn - 1) * $nBins) div __n").cast("int"))
      .drop("__rn", "__n")
  }

  /** The ±1 sign of projection-matrix entry (j, i): parity of the
    * md5-derived 60-bit hash of "tag|j|i" — the same value
    * `md5_bits('tag|j|i', 15) % 2` yields in either engine's SQL, so
    * an oracle can rebuild the matrix verbatim. Deterministic metadata:
    * outDim x inDim bytes, computed once on the driver. */
  private def projSign(tag: String, j: Int, i: Int): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$tag|$j|$i".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    if (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2 == 0) 1L else -1L
  }

  /** Johnson-Lindenstrauss random sign projection of an embedding
    * column to `outDim` dimensions: y_j = Σ_i r_ji · x_i with
    * r ∈ {±1} drawn deterministically from md5 parity (Achlioptas
    * 2003's database-friendly projection, which needs no stored model —
    * any worker, any engine, any rerun derives the same matrix from
    * (tag, j, i)). Inputs are micro-quantized first so every output is
    * a pure BIGINT sum — engine-exact at any partitioning, no float
    * accumulation order anywhere. Per-vector cost is outDim codegen'd
    * [[graft.functions.Expressions.LongVectorDot]]s against literal
    * sign rows; the quantized vector is computed once (CSE).
    *
    * The 100 TB role: distance-preserving width reduction
    * (ε ~ sqrt(ln n / outDim)) ahead of ANN/clustering stages — the
    * shuffled bytes per vector drop by inDim/outDim with no training
    * state to ship. Returns (id, j, yq) long rows; callers reassemble
    * arrays only at the consumer. */
  def randomProjection(embs: DataFrame, idCol: String, vecCol: String,
                       inDim: Int, outDim: Int,
                       tag: String = "jl"): DataFrame = {
    require(inDim >= 1 && outDim >= 1, "dims must be positive")
    val signs = Array.tabulate(outDim)(j =>
      Array.tabulate(inDim)(i => projSign(tag, j, i)))
    val yCols = (0 until outDim).map(j =>
      graft.functions.Expressions.long_vector_dot(
        col("__xq"), typedlit(signs(j))))
    embs
      .withColumn("__xq", graft.functions.Expressions.quantize_micro(col(vecCol)))
      .select(col(idCol),
        posexplode(array(yCols: _*)).as(Seq("j", "yq")))
      .select(col(idCol), col("j").cast("long").as("j"), col("yq"))
  }
}
