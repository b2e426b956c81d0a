package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.functions.Expressions.{minhash_signature, signature_agreement, simhash60, simhash_id_pairs, sorted_id_pairs, word_shingles}
import graft.plans.Materialize.CheckpointOps

/** Deduplication suite for large-scale corpus curation: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale notes (the design constraint, per BASELINE targets):
  *  - Signatures (minhash/simhash/shingles) are computed by tight-loop
  *    custom expressions in a single narrow pass — zero shuffle per
  *    document; the only shuffles carry (id, band, hash) rows, never
  *    text.
  *  - Candidate generation is bucket-local (LSH bands / simhash chunks /
  *    cosine blocking), never a full cross join; all-pairs exact Jaccard
  *    exists as the small-data oracle path only.
  */
object Dedup {

  /** Exact dedup: canonical first-write-wins representative per text key.
    * groupBy(min) rather than dropDuplicates so the surviving id is
    * deterministic (dropDuplicates keeps an arbitrary row).
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(normalizeText(col(textCol)).as("text_key"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Policy dedup: keep the BEST row of each text key — highest
    * `qualityCol`, ties to the smallest id so the survivor is
    * deterministic on any engine and partitioning. Survivors keep their
    * full row (unlike [[exact]], which reports the group). At corpus
    * scale this is the "multiple crawls of the same page, keep the
    * cleanest capture" dedup a training pipeline runs between exact and
    * near-dup passes.
    *
    * argmax over quality with an id tie-break rather than a row_number
    * window: the aggregate is map-side combinable (partial argmax
    * before the shuffle) and needs no per-partition sort, so the only
    * cost is one exchange of one candidate row per (partition x key) —
    * strictly less work than window+filter at any scale. max_by_row,
    * not the built-in max_by: the builtin's struct buffer silently
    * demotes the plan to SortAggregate (see Expressions.MaxByRow),
    * re-buying the sort this formulation exists to drop. The id rides
    * the aggregate's dedicated tie slot (smallest wins, nulls first —
    * exactly `ORDER BY quality DESC, id ASC NULLS FIRST`), which works
    * for ANY orderable id type; the earlier struct(quality, -id)
    * encoding silently cast string ids to null doubles and overflowed
    * Long.MinValue.
    */
  def keepBest(docs: DataFrame, idCol: String, textCol: String,
               qualityCol: String): DataFrame = {
    val outCols = docs.columns
    docs.groupBy(normalizeText(col(textCol)).as("__text_key"))
      .agg(graft.functions.Expressions.max_by_row(struct(outCols.map(col): _*),
        col(qualityCol), col(idCol)).as("__best"))
      .select(outCols.map(c => col(s"__best.$c")): _*)
  }

  /** Distinct word n-gram shingle array, computed per-row (no shuffle).
    * Documents shorter than n words contribute their whole text as the
    * single shingle.
    */
  def shingleArray(textCol: String, n: Int): Column =
    word_shingles(tokens(col(textCol)), n)

  /** Exploded inverted-index form: (id, shingle). */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol), explode(shingleArray(textCol, n)).as("shingle"))

  /** Exact n-gram Jaccard similarity pairs (small-data / oracle path):
    * shingle inverted index self-joined on shingle, |A∩B| via group count,
    * |A∪B| = |A|+|B|-|A∩B|. The shingle join replaces the cross join —
    * only documents sharing at least one shingle ever meet.
    *
    * `maxDf` is the stop-shingle prune: shingles appearing in more than
    * `maxDf` documents are dropped from the index BEFORE the self-join,
    * so one ubiquitous shingle (boilerplate header) can never fan out
    * O(df^2) candidate pairs — the worst case per shingle is bounded by
    * maxDf*(maxDf-1)/2. Jaccard is then defined over the surviving
    * (distinctive) shingle space, the standard trade: frequent shingles
    * carry no near-dup signal anyway. The prune is an aggregate for the
    * OVER-cap shingles (map-side combinable) anti-joined back broadcast:
    * the stop list is tiny by definition — it only holds keys hot enough
    * to matter — where the previous windowed-count formulation shuffled
    * AND sorted every (id, shingle) row just to read a count.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double,
                        maxDf: Int = Int.MaxValue): DataFrame = {
    val all = shingles(docs, idCol, textCol, n)
    val pruned =
      if (maxDf == Int.MaxValue) all
      else {
        val stop = all.groupBy(col("shingle"))
          .agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxDf)
          .select(col("shingle"))
        // no broadcast hint: AQE sees the post-filter size and picks the
        // broadcast anti-join itself; on a pathological corpus where the
        // stop list is actually large, forcing broadcast would OOM the
        // driver while the shuffled anti-join (still sort-free) degrades
        // gracefully
        all.join(stop, Seq("shingle"), "left_anti")
      }
    val sh = pruned.cache()
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val inter = sh.alias("a").join(sh.alias("b"),
        col("a.shingle") === col("b.shingle") && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    // integer union size + a threshold test on integers x one double
    // multiply: exact, engine-independent (no rounding of the ratio)
    inter
      .join(sizes.withColumnRenamed(idCol, "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(sizes.withColumnRenamed(idCol, "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
      .filter(col("n_inter") >= lit(threshold) * col("n_union"))
      .withColumn("jaccard", col("n_inter") / col("n_union"))
      .select("id_a", "id_b", "n_inter", "n_union", "jaccard")
  }

  /** Directed containment join over word shingles: emit (contained,
    * container) pairs where C(A→B) = |A∩B| / |A| clears the permille
    * threshold — the ASYMMETRIC complement of [[ngramJaccardPairs]].
    * Jaccard misses exactly the case contamination hunts for: a short
    * document swallowed whole by a long one scores near-zero Jaccard
    * (union is huge) but containment 1.0. The threshold test is pure
    * integer (`n_inter·1000 ≥ t·|A|`) and the score truncating milli
    * units, so the pair set is engine-exact.
    *
    * Same inverted-index shape and df-cap skew guard as the Jaccard
    * op: intersections are computed once per CANONICAL pair and then
    * emitted in both orientations, so the asymmetric join costs the
    * same shuffle as the symmetric one.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, thresholdPermille: Long,
                       maxDf: Int = Int.MaxValue): DataFrame = {
    require(thresholdPermille >= 0 && thresholdPermille <= 1000,
      "threshold is a permille in [0, 1000]")
    val all = shingles(docs, idCol, textCol, n)
    val pruned =
      if (maxDf == Int.MaxValue) all
      else {
        val stop = all.groupBy(col("shingle"))
          .agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxDf)
          .select(col("shingle"))
        all.join(stop, Seq("shingle"), "left_anti")
      }
    val sh = pruned.cache()
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val inter = sh.alias("a").join(sh.alias("b"),
        col("a.shingle") === col("b.shingle") && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    val directed = inter
      .select(col("id_a").as("id_contained"), col("id_b").as("id_container"),
        col("n_inter"))
      .unionByName(inter.select(col("id_b").as("id_contained"),
        col("id_a").as("id_container"), col("n_inter")))
    directed
      .join(sizes.select(col(idCol).as("id_contained"), col("n_sh").as("n_contained")),
        "id_contained")
      .join(sizes.select(col(idCol).as("id_container"), col("n_sh").as("n_container")),
        "id_container")
      .filter(col("n_inter") * 1000 >= lit(thresholdPermille) * col("n_contained"))
      .withColumn("containment_milli", expr("(n_inter * 1000) div n_contained"))
      .select("id_contained", "id_container", "n_inter", "n_contained",
        "n_container", "containment_milli")
  }

  /** MinHash signature: k permutations approximated by k seeded hashes;
    * component i = min over shingles of xxhash64(shingle, seed=i). One
    * tight-loop pass per row (custom expression), no shuffle.
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, k: Int): DataFrame =
    docs.select(col(idCol),
      minhash_signature(shingleArray(textCol, n), k).as("signature"))

  /** MinHash + LSH banding: split the k-component signature into `bands`
    * bands of k/bands rows, hash each band, bucket by (band, hash).
    * Candidate pairs are generated by a bounded within-bucket self-join,
    * then scored by the fraction of agreeing signature components — no
    * text ever shuffles.
    * `maxBucket` guards against degenerate buckets (all-identical spam) —
    * the skew safety valve at scale.
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, k: Int = 32, bands: Int = 8,
                      threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame = {
    val r = k / bands
    val sigs = minhashSignatures(docs, idCol, textCol, n, k).cache()
    val buckets = lshBuckets(sigs, idCol, bands, r)
    // bucket build + degenerate-bucket guard + pair generation in ONE
    // shuffle: collect each bucket's id list, drop singleton and
    // over-`maxBucket` buckets (the skew safety valve — bounds any
    // bucket's pair fan-out to maxBucket^2/2), and stream ordered pairs
    // out of a narrow generate (tight-loop expression). The previous
    // window-count + self-join formulation paid a second sort+join pass
    // over the bucket table for the same pair set.
    val pairs = buckets.groupBy(col("band"), col("bh"))
      .agg(collect_list(col(idCol)).as("__ids"))
      .filter(size(col("__ids")).between(2, maxBucket))
      .select(explode(sorted_id_pairs(col("__ids"))).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .distinct()
    pairs
      .join(sigs.select(col(idCol).as("id_a"), col("signature").as("sig_a")), "id_a")
      .join(sigs.select(col(idCol).as("id_b"), col("signature").as("sig_b")), "id_b")
      // agreement / 2^5: an exact binary fraction, so the double is
      // bit-identical on any IEEE engine — no rounding step needed (or
      // wanted: rounding a .5-in-decimal value is where engines diverge)
      .withColumn("est_jaccard",
        signature_agreement(col("sig_a"), col("sig_b")) / lit(k.toDouble))
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** LSH band buckets of a signature table: (id, band, bh). The bucket
    * key is the band's component slice ITSELF (array<bigint> equality),
    * not a hash of it: grouping on the values is collision-exact — a
    * candidate pair means the band genuinely agrees — at the cost of r
    * longs per bucket row instead of one int, noise next to the shuffle's
    * per-row overhead.
    */
  private def lshBuckets(sigs: DataFrame, idCol: String, bands: Int, r: Int): DataFrame =
    sigs.select(col(idCol), explode(expr(
        s"transform(sequence(0, ${bands - 1}), c -> " +
        s"struct(c as band, slice(signature, c * $r + 1, $r) as bh))")).as("b"))
      .select(col(idCol), col("b.band"), col("b.bh"))

  /** Incremental near-dup detection against a persisted signature store:
    * sign ONLY the new batch, append the signatures idempotently
    * (first-write-wins on id), and generate candidates by joining the new
    * batch's buckets against the full store's — old-vs-old pairs are
    * never recomputed. This is the weekly-incremental shape at 100 TB:
    * per run, work is O(new x collision rate), not O(corpus^2).
    *
    * Returns pairs where at least one side is from `newDocs`, ordered
    * (id_a < id_b), scored by signature agreement.
    */
  def incrementalMinhashPairs(newDocs: DataFrame, idCol: String, textCol: String,
                              storePath: String, n: Int = 3, k: Int = 32,
                              bands: Int = 16, threshold: Double = 0.5,
                              maxBucket: Int = 1000): DataFrame = {
    val spark = newDocs.sparkSession
    val r = k / bands
    // signature-family version guard: signatures from a different hash
    // family (e.g. a pre-upgrade xxhash64 store) compare as garbage, so
    // mixing is an ERROR, not a silent recall collapse
    val family = s"minhash-md5-60 n=$n k=$k"
    graft.operators.Sinks.requireFamily(spark, storePath, family)
    val newSigs = minhashSignatures(newDocs, idCol, textCol, n, k)
    graft.operators.Sinks.appendDedup(newSigs, storePath, Seq(idCol))
    graft.operators.Sinks.stampFamily(spark, storePath, family)
    val store = spark.read.parquet(storePath)
    // probe with the STORE's signatures for the batch ids, not the
    // freshly computed ones: a replayed id with changed text keeps its
    // persisted signature (first-write-wins), so the reported pairs are
    // always consistent with the store and reproduce on replay
    val probeSigs = store.join(newDocs.select(col(idCol)).distinct(),
      Seq(idCol), "left_semi")
    val newBuckets = lshBuckets(probeSigs, idCol, bands, r)
      .withColumnRenamed(idCol, "__new_id")
    val storeBuckets = lshBuckets(store, idCol, bands, r)
    // enforce the maxBucket guard (it was accepted but silently unused
    // before): a degenerate store bucket would fan out new x bucket
    // rows; the hot-bucket list is tiny by definition, so the anti-join
    // broadcasts
    val hotBuckets = storeBuckets.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucket)
      .select(col("band"), col("bh"))
    val safeStore = storeBuckets.join(hotBuckets, Seq("band", "bh"), "left_anti")
    val pairs = newBuckets.join(safeStore, Seq("band", "bh"))
      .filter(col("__new_id") =!= col(idCol))
      .select(least(col("__new_id"), col(idCol)).as("id_a"),
        greatest(col("__new_id"), col(idCol)).as("id_b"))
      .distinct()
    pairs
      .join(store.select(col(idCol).as("id_a"), col("signature").as("sig_a")), "id_a")
      .join(store.select(col(idCol).as("id_b"), col("signature").as("sig_b")), "id_b")
      .withColumn("est_jaccard",
        signature_agreement(col("sig_a"), col("sig_b")) / lit(k.toDouble))
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** 60-bit md5-derived SimHash over whitespace tokens (custom
    * expression, no shuffle): per bit j, sum +-1 over token hashes; bit
    * set where the sum is positive. 60 bits so an oracle can rebuild the
    * signature from md5() — see [[graft.functions.Expressions.SimHash60]].
    */
  def simhash(textCol: String): Column = simhash60(tokens(col(textCol)))

  /** Incremental simhash near-dup detection against a persisted
    * signature store — the simhash twin of [[incrementalMinhashPairs]]:
    * sign ONLY the new batch, append idempotently (first-write-wins on
    * id), and probe the new batch's pigeonhole chunks against the full
    * store's, so old-vs-old pairs are never recomputed and per-run work
    * is O(new x collision rate). Store chunk buckets over `maxBucket`
    * REFINE on the complement sub-chunks (the [[simhashPairs]] recursive
    * pigeonhole — exact-complete at one more level) rather than drop,
    * and every sub-bucket joins: a sub-bucket still over the cap costs
    * new-batch × members (bounded by the batch), never a dropped pair —
    * the r14 100× sweep caught the old residual valve breaking the
    * exact oracle. Returns (id_a, id_b, hamming) pairs where at least
    * one side is new, ordered id_a < id_b.
    *
    * maxBucket is a pure cost knob (never recall): the r15 sf10 ladder
    * (tools/SimhashCapProbe, caps 8000/2000/1000/500, pair set
    * hash-identical at every cap) measured the probe leg FLAT across
    * caps within single-box noise (9.6-20 s at 500k docs), so the
    * default matches the batch operator's measured optimum.
    */
  def incrementalSimhashPairs(newDocs: DataFrame, idCol: String, textCol: String,
                              storePath: String, maxHamming: Int = 3,
                              maxBucket: Int = 8000): DataFrame = {
    val spark = newDocs.sparkSession
    val chunks = maxHamming + 1
    val width = 60 / chunks
    // family guard + store-consistent probing: same contract as
    // incrementalMinhashPairs (see there)
    val family = "simhash-md5-60 bits=60"
    graft.operators.Sinks.requireFamily(spark, storePath, family)
    val newSims0 = newDocs.select(col(idCol), simhash(textCol).as("simhash"))
    graft.operators.Sinks.appendDedup(newSims0, storePath, Seq(idCol))
    graft.operators.Sinks.stampFamily(spark, storePath, family)
    val store = spark.read.parquet(storePath)
    val newSims = store.join(newDocs.select(col(idCol)).distinct(),
      Seq(idCol), "left_semi")
    def chunkBuckets(sims: DataFrame): DataFrame =
      sims.select(col(idCol), col("simhash"), explode(expr(
          s"transform(sequence(0, ${chunks - 1}), c -> " +
          s"struct(c as chunk, shiftright(simhash, c * $width) & ${(1L << width) - 1} as cv))")).as("b"))
        .select(col(idCol), col("simhash"), col("b.chunk"), col("b.cv"))
    val newB = chunkBuckets(newSims).select(col(idCol).as("__new_id"),
      col("simhash").as("__new_sh"), col("chunk"), col("cv"))
    // pin the probe join's parallelism: the store parquet is a handful
    // of file splits, and the new side broadcasts, so without this the
    // whole new-vs-store candidate verify (output >> input — the shape
    // AQE's input-size coalescing cannot see) runs in one or two tasks.
    // An explicit-count repartition is exempt from AQE coalescing.
    val shuffleN = graft.GraftSession.shuffleWidth(spark)
    val storeB = chunkBuckets(store).repartition(shuffleN, col("chunk"), col("cv"))
    val hot = storeB.groupBy(col("chunk"), col("cv"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucket)
      .select(col("chunk"), col("cv"))
    val coldPairs = newB
      .join(storeB.join(hot, Seq("chunk", "cv"), "left_anti"), Seq("chunk", "cv"))
    // hot store buckets REFINE on the complement sub-chunks instead of
    // dropping — same recursive pigeonhole as [[simhashPairs]]: both
    // sides of a qualifying pair agree on (chunk, cv), so their
    // <= maxHamming differing bits lie in the compacted complement and
    // one of its (maxHamming+1) disjoint sub-chunks must agree. EVERY
    // sub-bucket then joins (r14 removed the residual drop), so the
    // operator is exact at any cap.
    val subW = (60 - width) / chunks
    val pairs =
      if (subW == 0) coldPairs
      else {
        def subBuckets(b: DataFrame, shCol: String): DataFrame = b
          .join(hot, Seq("chunk", "cv"))
          .withColumn("__comp", expr(
            s"($shCol & (shiftleft(1L, chunk * $width) - 1)) | " +
            s"shiftleft(shiftright($shCol, (chunk + 1) * $width), chunk * $width)"))
          .select(b.columns.map(col).toIndexedSeq :+
            explode(expr(s"transform(sequence(0, ${chunks - 1}), j -> " +
              s"struct(j as sub, shiftright(__comp, j * $subW) & ${(1L << subW) - 1} as sv))")).as("s2"): _*)
          .select(b.columns.map(col).toIndexedSeq :+
            col("s2.sub").as("sub") :+ col("s2.sv").as("sv"): _*)
        val storeSub = subBuckets(storeB, "simhash")
          // the refined verify is the same exploding join one level down
          .repartition(shuffleN, col("chunk"), col("cv"), col("sub"), col("sv"))
        // every sub-bucket joins — a sub-bucket still over the cap is
        // new-batch x members, bounded by the batch (the r14 100× sweep
        // caught the old residual drop breaking the exact oracle)
        val hotPairs = subBuckets(newB, "__new_sh")
          .join(storeSub, Seq("chunk", "cv", "sub", "sv"))
        coldPairs.unionByName(hotPairs.select(coldPairs.columns.map(col).toIndexedSeq: _*))
      }
    pairs
      .filter(col("__new_id") =!= col(idCol))
      .withColumn("hamming",
        bit_count(col("__new_sh").bitwiseXOR(col("simhash"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(least(col("__new_id"), col(idCol)).as("id_a"),
        greatest(col("__new_id"), col(idCol)).as("id_b"), col("hamming"))
      .distinct()
  }

  /** SimHash near-dup pairs: pigeonhole banding — two docs within
    * `maxHamming` of each other must agree on at least one of
    * (maxHamming+1) disjoint bit chunks, so bucket by chunk value and
    * verify candidates with bit_count(xor). No cross join. (Disjointness
    * alone gives completeness: the <= maxHamming differing bits can touch
    * at most maxHamming of the chunks+1 chunks, so some chunk agrees even
    * when 60 % chunks bits are left uncovered.)
    *
    * Hot buckets REFINE instead of pairing: in-bucket pair generation is
    * Σ(bucket²), and bucket population grows with the corpus in
    * similar-vocabulary regions (the 100× probe measured the resulting
    * super-linear curve). A bucket over `maxBucket` re-applies the SAME
    * pigeonhole to the 60−width complement bits its members do NOT
    * already agree on: a qualifying pair's ≤ maxHamming differing bits
    * all lie in that complement, so splitting it into (maxHamming+1)
    * disjoint sub-chunks guarantees agreement on one — bucketing by
    * (chunk, cv, sub-chunk, sub-value) is exact-complete again, with
    * E[sub-bucket] = bucket / 2^subWidth. A sub-bucket still over the
    * cap refines ONCE MORE (a third pigeonhole level on the yet-unagreed
    * bits), and the bottom level generates pairs for every remaining
    * bucket — as a streamed self-join, never a drop — so the operator is
    * EXACT at every corpus size (the r14 100× sweep caught the old
    * residual-valve drop losing 1,012 of 2.6M pairs). `maxBucket` is
    * purely a cost ladder (when to refine deeper), not a recall knob;
    * the unsplittable worst case is a near-identical group whose pair
    * OUTPUT is itself quadratic, so generation is output-bound.
    *
    * Where on the ladder to sit: the r15 sf10 probe
    * (tools/SimhashCapProbe; pair set hash-identical at every cap)
    * measured 8000 ≫ lower caps for this batch path — 24.8 s vs 27.9 /
    * 113.7 / 141.8 s at caps 2000/1000/500 on 500k docs: descending a
    * refine level re-explodes every hot bucket ×(maxHamming+1), so
    * refining EARLIER costs more than pairing a few-thousand-row bucket
    * in place. Hence the 8000 default (the in-bucket pair loop on a
    * bucket of 8000 is ~32M comparisons — cheap next to an extra
    * explode+shuffle of the whole hot set).
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 8000): DataFrame = {
    val chunks = maxHamming + 1
    val width = 60 / chunks
    val sims = docs.select(col(idCol), simhash(textCol).as("simhash"))
    val buckets = sims.select(col(idCol), col("simhash"), explode(expr(
        s"transform(sequence(0, ${chunks - 1}), c -> " +
        s"struct(c as chunk, shiftright(simhash, c * $width) & ${(1L << width) - 1} as cv))")).as("b"))
      .select(col(idCol), col("simhash"), col("b.chunk"), col("b.cv"))
    // bucket build + pair generation + hamming verify in ONE shuffle:
    // each bucket collects its (id, simhash) members and a tight-loop
    // expression emits only the verified pairs — nothing wide happens
    // after the aggregation, where the window+self-join formulation
    // paid a second sort+join pass for the same pair set
    // pin the bucket stage's parallelism: the exploded signature table
    // is only ~8 narrow rows per doc, so AQE's input-size coalescing
    // would collapse the post-shuffle stage to one or two tasks — but
    // the work BELOW this exchange is Σ(bucket²) pair generation, whose
    // output dwarfs its input (the classic exploding-stage shape AQE
    // cannot see). An explicit-count repartition is exempt from AQE
    // coalescing, so the pair loops run at full width.
    val shuffleN = graft.GraftSession.shuffleWidth(docs.sparkSession)
    val grouped = buckets.repartition(shuffleN, col("chunk"), col("cv"))
      .groupBy(col("chunk"), col("cv"))
      .agg(collect_list(struct(col(idCol), col("simhash"))).as("__m"))
    val level1 = grouped.filter(size(col("__m")).between(2, maxBucket))
      .select(explode(simhash_id_pairs(col("__m"), maxHamming)).as("p"))
    // exact bottom: stream every pair of a keyed member table through a
    // self-join (spillable, no collect_list array — a near-identical
    // group's pair array would be |group|² in ONE row) and verify
    // hamming. Used wherever refinement can no longer split.
    def allPairsJoin(members: DataFrame, keys: Seq[String]): DataFrame = {
      val a = members.select(keys.map(col) :+
        col(idCol).as("__a_id") :+ col("simhash").as("__a_sh"): _*)
      val b = members.select(keys.map(col) :+
        col(idCol).as("__b_id") :+ col("simhash").as("__b_sh"): _*)
      a.join(b, keys).filter(col("__a_id") < col("__b_id"))
        .withColumn("__h",
          bit_count(col("__a_sh").bitwiseXOR(col("__b_sh"))).cast("int"))
        .filter(col("__h") <= maxHamming)
        .select(struct(col("__a_id").as("a"), col("__b_id").as("b"),
          col("__h").as("hamming")).as("p"))
    }
    def membersOf(g: DataFrame, keys: Seq[String]): DataFrame = g
      .select(keys.map(col) :+ explode(col("__m")).as("m"): _*)
      .select(keys.map(col) :+
        col(s"m.$idCol").as(idCol) :+ col("m.simhash").as("simhash"): _*)
    // level 2: compact the complement (bits outside the agreed chunk)
    // into a 60−width-bit value, sub-chunk it, and re-bucket within the
    // (chunk, cv) group. subW == 0 (maxHamming = 0: exact duplicates,
    // 60-bit chunk, empty complement — an over-cap bucket is an
    // identical-signature group) pairs the hot bucket exactly instead.
    val subW = (60 - width) / chunks
    val hot1 = grouped.filter(size(col("__m")) > maxBucket)
    val pairs =
      if (subW == 0)
        level1.unionByName(allPairsJoin(
          membersOf(hot1, Seq("chunk", "cv")), Seq("chunk", "cv")))
      else {
        val grouped2 = membersOf(hot1, Seq("chunk", "cv"))
          .withColumn("__comp", expr(
            s"(simhash & (shiftleft(1L, chunk * $width) - 1)) | " +
            s"shiftleft(shiftright(simhash, (chunk + 1) * $width), chunk * $width)"))
          .select(col("chunk"), col("cv"), col(idCol), col("simhash"), col("__comp"),
            explode(expr(s"transform(sequence(0, ${chunks - 1}), j -> " +
              s"struct(j as sub, shiftright(__comp, j * $subW) & ${(1L << subW) - 1} as sv))")).as("s2"))
          // same exploding-stage shape one level down: pin the width
          .repartition(shuffleN, col("chunk"), col("cv"), col("s2.sub"),
            col("s2.sv"))
          .groupBy(col("chunk"), col("cv"), col("s2.sub").as("sub"),
            col("s2.sv").as("sv"))
          .agg(collect_list(struct(col(idCol), col("simhash"))).as("__m"))
        val level2 = grouped2.filter(size(col("__m")).between(2, maxBucket))
          .select(explode(simhash_id_pairs(col("__m"), maxHamming)).as("p"))
        // level 3: a sub-bucket still over the cap re-pigeonholes the
        // 60−width−subW bits its members have not yet agreed on; the
        // pigeonhole stays valid with a partially-covered complement
        // (≤ maxHamming differing bits touch ≤ maxHamming of the
        // maxHamming+1 chunks wherever they fall). The bottom pairs
        // every resulting bucket — no upper cap, exact at any size.
        val hot2 = grouped2.filter(size(col("__m")) > maxBucket)
        val subW2 = (60 - width - subW) / chunks
        val level3 =
          if (subW2 == 0)
            allPairsJoin(membersOf(hot2, Seq("chunk", "cv", "sub", "sv")),
              Seq("chunk", "cv", "sub", "sv"))
          else {
            val m3 = membersOf(hot2, Seq("chunk", "cv", "sub", "sv"))
              .withColumn("__comp", expr(
                s"(simhash & (shiftleft(1L, chunk * $width) - 1)) | " +
                s"shiftleft(shiftright(simhash, (chunk + 1) * $width), chunk * $width)"))
              .withColumn("__comp2", expr(
                s"(__comp & (shiftleft(1L, sub * $subW) - 1)) | " +
                s"shiftleft(shiftright(__comp, (sub + 1) * $subW), sub * $subW)"))
              .select(col("chunk"), col("cv"), col("sub"), col("sv"),
                col(idCol), col("simhash"),
                explode(expr(s"transform(sequence(0, ${chunks - 1}), t -> " +
                  s"struct(t as ssub, shiftright(__comp2, t * $subW2) & ${(1L << subW2) - 1} as ssv))")).as("s3"))
              .select(col("chunk"), col("cv"), col("sub"), col("sv"),
                col("s3.ssub").as("ssub"), col("s3.ssv").as("ssv"),
                col(idCol), col("simhash"))
              .repartition(shuffleN, col("chunk"), col("cv"), col("sub"),
                col("sv"), col("ssub"), col("ssv"))
            allPairsJoin(m3, Seq("chunk", "cv", "sub", "sv", "ssub", "ssv"))
          }
        level1.unionByName(level2).unionByName(level3)
      }
    pairs
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"), col("p.hamming").as("hamming"))
      .distinct()
  }

  /** Full dedup pipeline: near-dup pairs -> connected components ->
    * canonical survivor per cluster (min id — first-write-wins, matching
    * [[exact]]). Returns (doc_id, component, is_canonical, cluster_size);
    * docs without any near-dup partner are their own singleton cluster.
    */
  def nearDupClusters(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, k: Int = 32, bands: Int = 16,
                      threshold: Double = 0.5,
                      deepComponents: Boolean = false): DataFrame =
    clustersFromPairs(
      minhashLshPairs(docs, idCol, textCol, n, k, bands, threshold)
        .select(col("id_a"), col("id_b")),
      docs, idCol, deepComponents)

  /** Clustering half of [[nearDupClusters]], over ANY (id_a, id_b) pair
    * set — minhash LSH, simhash, exact Jaccard, embedding-cosine — so the
    * edge generator and the component solver verify independently.
    * Returns (idCol, component, is_canonical, cluster_size); docs with no
    * pair are singleton clusters.
    */
  def clustersFromPairs(pairs: DataFrame, docs: DataFrame, idCol: String,
                        deepComponents: Boolean = false): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    val allDocs = docs.select(col(idCol).as("node"))
    // near-dup clusters are shallow (min-label converges in 2-4 rounds);
    // deepComponents switches to large-star/small-star (O(log n) rounds)
    // for corpora where duplicate chains run long
    val comps =
      if (deepComponents)
        graft.operators.Graph.connectedComponentsStar(edges, extraNodes = Some(allDocs))
      else
        graft.operators.Graph.connectedComponents(edges, extraNodes = Some(allDocs))
    val sizes = comps.groupBy("component").agg(count(lit(1)).as("cluster_size"))
    comps.join(sizes, "component")
      .select(col("node").as(idCol), col("component"),
        (col("node") === col("component")).as("is_canonical"),
        col("cluster_size"))
  }

  /** The final collapse of the dedup pipeline: one representative row
    * per near-dup cluster, chosen by QUALITY rather than id — the
    * "keep the cleanest capture of each page" policy
    * ([[keepBest]]'s argmax) applied across a whole near-dup
    * component instead of an exact text key. Composition of
    * [[clustersFromPairs]] (any pair generator) + the map-side
    * combinable [[graft.functions.Expressions.MaxByRow]] argmax:
    * highest `qualityCol` wins, ties to the smallest id, so the
    * survivor set is deterministic on any engine and partitioning.
    * Returns one row per component: (component, rep_id, rep_quality,
    * cluster_size).
    *
    * Scale shape: components via label propagation (shuffles bounded by
    * the edge set), one narrow join of (id -> component, size) back to
    * (id, quality), one argmax shuffle carrying a candidate row per
    * (partition x component). Nothing quadratic, nothing sorted.
    */
  def clusterRepresentatives(pairs: DataFrame, docs: DataFrame, idCol: String,
                             qualityCol: String,
                             deepComponents: Boolean = false): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    val allDocs = docs.select(col(idCol).as("node"))
    // raw component labels, NOT clustersFromPairs: the cluster size
    // rides the representative aggregation itself (count per component),
    // where the labelled form would pay a separate sizes aggregation
    // plus a join back — one shuffle and one join fewer for the same rows
    val comps =
      if (deepComponents)
        graft.operators.Graph.connectedComponentsStar(edges, extraNodes = Some(allDocs))
      else
        graft.operators.Graph.connectedComponents(edges, extraNodes = Some(allDocs))
    docs.select(col(idCol), col(qualityCol))
      .join(comps.withColumnRenamed("node", idCol), idCol)
      .groupBy(col("component"))
      .agg(graft.functions.Expressions.max_by_row(
        struct(col(idCol).as("rep_id"), col(qualityCol).as("rep_quality")),
        col(qualityCol), col(idCol)).as("__best"),
        count(lit(1)).as("cluster_size"))
      .select(col("component"), col("__best.rep_id").as("rep_id"),
        col("__best.rep_quality").as("rep_quality"), col("cluster_size"))
  }

  /** Exact duplicate-span detection (the substring-dedup shape of
    * "Deduplicating Training Data Makes Language Models Better",
    * Lee et al. 2022, simplified from suffix arrays to fixed-length
    * windows): every overlapping `spanLen`-token window of every
    * document, grouped corpus-wide; windows whose text occurs in more
    * than one place are duplicated spans, reported with their document
    * and token position so a downstream pass can excise them.
    *
    * Scale shape: the explode is narrow (windows stream out of the
    * scan); the ONE shuffle carries (hash, doc, pos) — the hash an
    * 8-byte long (60 bits of md5), a fixed ~24 bytes/window regardless
    * of span length, when the `hashOnly` flag swaps the span text for
    * its hash. Window count is tokens-per-doc × corpus, the same order
    * as the shingle index the Jaccard path already builds. Occurrence
    * lists ride the span-key aggregation (collect_list) and the
    * duplicated ones stream back out of a narrow generate, so
    * tokenize+explode runs ONCE — the earlier aggregate + join-back
    * re-derived the spans from the scan, running the tokenizer twice.
    * `maxOccurrences` bounds any one span's collected list (a span
    * repeated millions of times is boilerplate, not dedup signal —
    * same skew valve as the LSH paths' maxBucket): over-cap spans are
    * dropped entirely, never truncated.
    */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                     spanLen: Int, hashOnly: Boolean = true,
                     maxOccurrences: Int = 100000): DataFrame = {
    require(spanLen >= 1)
    // windowing runs through codegen'd positional expressions (one tight
    // loop, all occurrences in order) — the HOF transform/slice
    // formulation evaluated an interpreted lambda and allocated a slice
    // per window, and dominated the operator's cost. On the default
    // hash-only path the window string is never materialized at all:
    // SpanKeys feeds the digest token-by-token and the exploded column
    // is a bare long (byte-identical to md5_bits(SpanWindows(...), 15)).
    val toked = docs.select(col(idCol), tokens(col(textCol)).as("__toks"))
    val spans = (if (hashOnly)
        toked.select(col(idCol),
          posexplode(graft.functions.Expressions.span_keys(col("__toks"), spanLen))
            .as(Seq("pos0", "span_key")))
      else
        toked.select(col(idCol),
          posexplode(graft.functions.Expressions.span_windows(col("__toks"), spanLen))
            .as(Seq("pos0", "span_key"))))
      // positions 1..len-spanLen+1, 1-based to match SQL slicing
      .select(col(idCol), (col("pos0") + 1).as("pos"), col("span_key"))
    // aggregate + join back, NOT count() OVER (PARTITION BY span_key):
    // the window formulation sorts every span within its partition for a
    // count that needs no order. The count aggregate stays a primitive
    // HashAggregate (map-side combinable; a collect_list formulation was
    // measured SLOWER here — object buffers for every singleton span,
    // i.e. the overwhelming majority, cost more than the join they
    // save), the >1 filter shrinks the dup-key side to the actual
    // duplicates (AQE broadcasts it when small), and the narrow
    // (key, doc, pos) span table is persisted so tokenize+posexplode
    // runs ONCE — re-deriving it from the scan ran the tokenizer twice.
    // maxOccurrences drops boilerplate spans (repeated past any dedup
    // signal) the same way the LSH paths' maxBucket drops degenerate
    // buckets — bounded fan-out on any corpus.
    // Eager localCheckpoint, NOT persist: Dataset.persist parks the plan
    // in the session CacheManager with a strong reference that nothing
    // here could ever release (the operator returns a lazy frame, so
    // there is no safe unpersist point) — a per-call cache leak. A
    // localCheckpoint's blocks belong to the RDD and are dropped by the
    // ContextCleaner once the caller lets go of the result, at the cost
    // that lineage is truncated: losing an executor that held blocks
    // FAILS the job (no replay path) and the caller must retry (Curation
    // takes the same trade; Graph.scala documents the same contract).
    val keyed = spans.checkpointAt("Dedup.duplicateSpans.keyed")
    val dupKeys = keyed.groupBy(col("span_key"))
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") > 1 &&
        col("n_occurrences") <= maxOccurrences)
    keyed.join(dupKeys, "span_key")
      .select(col(idCol), col("pos"), col("span_key"), col("n_occurrences"))
  }

  /** Variable-length duplicated-substring detection — the two-pass
    * maximal-span variant of [[duplicateSpans]] (the scalable shape of
    * Lee et al. 2022's suffix-array dedup): pass 1 finds every
    * corpus-duplicated `spanLen`-token seed window; pass 2 merges runs
    * of CONSECUTIVE duplicated window positions within a document into
    * maximal spans. A duplicated substring of L ≥ spanLen tokens
    * contributes L − spanLen + 1 consecutive seed windows, so the merge
    * recovers its full [start, end] extent — every fixed-window hit is
    * contained in exactly one emitted span, and spans longer than the
    * seed are reported at their true length instead of as a pile of
    * overlapping windows (what an excision pass actually wants to cut).
    * Differences from true suffix-array dedup are inherited from the
    * seed pass and documented there: substrings shorter than `spanLen`
    * are invisible, and the two merged neighborhoods of a span need not
    * co-occur verbatim in one OTHER document (each window is duplicated
    * somewhere, possibly in different places).
    *
    * Scale shape: pass 1 is [[duplicateSpans]] unchanged (one narrow
    * shuffle of (hash, doc, pos)); pass 2 adds one shuffle partitioned
    * by DOCUMENT — the gaps-and-islands window (`pos − row_number`)
    * sorts each document's duplicated positions only, bounded by
    * tokens-per-doc, never corpus-wide. `maxOccurrences` drops
    * boilerplate spans exactly like the seed pass (an over-cap window
    * splits the island it sat in — boilerplate is excised by its own
    * policy, not dedup's).
    */
  def maximalDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                            spanLen: Int,
                            maxOccurrences: Int = 100000): DataFrame = {
    val seeds = duplicateSpans(docs, idCol, textCol, spanLen,
      hashOnly = true, maxOccurrences)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    seeds.select(col(idCol), col("pos"))
      .withColumn("__island", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + lit(spanLen - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"),
        col("n_windows"))
  }

  /** Duplicate-span EXCISION — the pass the detection family feeds
    * (Lee et al. 2022 remove each duplicated substring's occurrences
    * but one): rebuild every document with its duplicated-span tokens
    * removed, EXCEPT tokens protected by a canonical occurrence. The
    * canonical occurrence of a duplicated window is its globally
    * smallest (doc, pos) — deterministic on any engine/partitioning —
    * so every duplicated string survives verbatim in exactly the
    * lowest-id document that carries it, and a token is excised iff
    * some duplicated window covers it and NO canonical window does.
    * Docs shorter than `spanLen` have no windows and pass through;
    * a NULL-text doc survives as (id, 0 tokens, 0 excised, "") rather
    * than vanishing (r17: every input id reaches the output).
    *
    * Scale shape — equality joins only, no range join anywhere: the
    * seed pass is [[duplicateSpans]] (one narrow (hash, doc, pos)
    * shuffle); canonical selection is a row_number window partitioned
    * by span_key over the DUPLICATED minority (each key's occurrence
    * list bounded by `maxOccurrences`); window→token coverage expands
    * each duplicated/canonical window into its `spanLen` covered
    * positions (a narrow ×k generate over the dup minority) and joins
    * the token table on (doc, pos) EQUALITY — the range-predicate
    * formulation would force a nested-loop per document. Text
    * reassembly is a per-document sort_array over that document's kept
    * tokens — bounded by document length, never corpus-wide. The
    * corpus is tokenized twice (seed pass + token table), both narrow
    * scan-side passes; fusing them would force the giant span table
    * through a checkpoint the token side must then re-read.
    */
  def exciseDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                           spanLen: Int,
                           maxOccurrences: Int = 100000): DataFrame = {
    val dup = duplicateSpans(docs, idCol, textCol, spanLen,
      hashOnly = true, maxOccurrences)
      .select(col(idCol).as("__d"), col("pos"), col("span_key"))
    // canonical = rank 1 by (doc, pos) within each duplicated key; the
    // per-key sort is bounded by the maxOccurrences skew valve
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("span_key")).orderBy(col("__d"), col("pos"))
    val canon = dup.withColumn("__rn", row_number().over(wk))
      .filter(col("__rn") === 1).select(col("__d"), col("pos"))
    def coverage(windows: DataFrame, flag: String): DataFrame = windows
      .select(col("__d"),
        explode(sequence(col("pos"), col("pos") + lit(spanLen - 1))).as("pos"))
      .distinct()
      .withColumn(flag, lit(true))
    val toked = docs.select(col(idCol).as("__d"), tokens(col(textCol)).as("__toks"))
    val te = toked
      .select(col("__d"), posexplode(col("__toks")).as(Seq("pos0", "tok")))
      .select(col("__d"), (col("pos0") + 1).as("pos"), col("tok"))
    val agged = te.join(coverage(dup, "__dc"), Seq("__d", "pos"), "left")
      .join(coverage(canon, "__pc"), Seq("__d", "pos"), "left")
      .withColumn("__keep", coalesce(col("__pc"), !coalesce(col("__dc"), lit(false))))
      .groupBy(col("__d"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(!col("__keep"), 1L).otherwise(0L)).as("n_excised"),
        array_join(expr(
          "transform(array_sort(collect_list(CASE WHEN __keep THEN " +
            "struct(pos, tok) END)), s -> s.tok)"), " ").as("text_deduped"))
    // EVERY input id survives: a NULL-text document (tokens() yields
    // null, posexplode emits no rows) used to vanish from the output
    // entirely — silent row loss for a curation pipeline. The ids side
    // is a one-column projection of the corpus; agged is already
    // hash-partitioned on __d from its groupBy, so the left join
    // reshuffles only the narrow id stream.
    docs.select(col(idCol).as("__d")).join(agged, Seq("__d"), "left")
      .select(col("__d").as(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_excised"), lit(0L)).as("n_excised"),
        coalesce(col("text_deduped"), lit("")).as("text_deduped"))
  }

  /** Cross-source duplication attribution: for every pair of sources,
    * how many duplicated `spanLen`-token spans they share and how many
    * duplicate occurrence-pairs that amounts to — the contamination
    * matrix that tells a corpus owner WHERE its boilerplate/overlap
    * comes from (two crawls of the same site, a dataset repackaged
    * under another name) before deciding which source to prune.
    *
    * Scalable by construction: spans reduce to (span_key, source)
    * COUNTS first (map-side combinable, the [[duplicateSpans]] digest
    * keys — 8-byte longs, never span strings), and only that tiny
    * aggregated table self-joins; pair counts come from the count
    * algebra (c*(c-1)/2 within a source, ca*cb across), never from
    * materializing occurrence pairs. `maxOccurrences` drops boilerplate
    * spans exactly like [[duplicateSpans]].
    */
  def crossSourceSpanMatrix(docs: DataFrame, idCol: String, textCol: String,
                            srcCol: String, spanLen: Int,
                            maxOccurrences: Int = 100000): DataFrame = {
    require(spanLen >= 1)
    val spans = docs
      .select(col(srcCol).as("source"), tokens(col(textCol)).as("__toks"))
      .select(col("source"),
        explode(graft.functions.Expressions.span_keys(col("__toks"), spanLen))
          .as("span_key"))
    // counts table is tiny after the agg; checkpoint so the self-join
    // does not re-tokenize the corpus twice (NOTE: localCheckpoint
    // truncates lineage — a lost block fails the job, caller retries)
    val sc = spans.groupBy(col("span_key"), col("source"))
      .agg(count(lit(1)).as("c"))
      .checkpointAt("Dedup.spanMatrix.sc")
    val tot = sc.groupBy(col("span_key")).agg(sum(col("c")).as("n"))
      .filter(col("n") > 1 && col("n") <= maxOccurrences)
      .select("span_key")
    // restrict to duplicated spans BEFORE the self-join: duplicated
    // spans are the rare tail of any real corpus, so the join input
    // shrinks from every span to just that tail, and AQE broadcasts
    // the survivors (both dup branches re-read the checkpointed sc,
    // never the corpus)
    val dup = sc.join(tot, "span_key")
    val a = dup.select(col("span_key"), col("source").as("source_a"), col("c").as("ca"))
    val b = dup.select(col("span_key"), col("source").as("source_b"), col("c").as("cb"))
    a.join(b, "span_key")
      .filter(col("source_a") <= col("source_b"))
      .withColumn("pairs", when(col("source_a") === col("source_b"),
        expr("ca * (ca - 1) div 2")).otherwise(col("ca") * col("cb")))
      .filter(col("pairs") > 0)
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(col("pairs")).as("n_dup_pairs"),
        count(lit(1)).as("n_shared_spans"))
  }

  /** Within-document line deduplication — the C4/RefinedWeb boilerplate
    * pass: split each document into lines, keep only the FIRST occurrence
    * of every distinct line inside that document, and reassemble the
    * survivors in original order. `linesCol` is any array<string> line
    * decomposition (split on newline for real documents; a fixed-width
    * token chunking for newline-free corpora). All ops are integer/string
    * exact — position-keyed explode, (doc, line) min-position aggregate,
    * struct-sorted reassembly — so the result is oracle-reproducible.
    *
    * At scale this is a NARROW-per-document pass: both aggregations key
    * on doc_id (the explode never leaves the document), so the shuffle is
    * one exchange on doc_id and the per-group state is the document's own
    * lines — no corpus-global structure, unlike cross-document dedup.
    */
  def dedupLinesWithinDoc(docs: DataFrame, idCol: String,
                          linesCol: Column): DataFrame = {
    val exploded = docs.select(col(idCol), posexplode(linesCol).as(Seq("pos", "line")))
    // first occurrence per (doc, line): min position + how many copies
    val firsts = exploded.groupBy(col(idCol), col("line"))
      .agg(min(col("pos")).as("pos"), count(lit(1)).as("n_copies"))
    // reassemble in original order: positions are unique within a doc, so
    // the struct sort is total and engine-deterministic
    firsts.groupBy(col(idCol))
      .agg(
        sum(col("n_copies")).as("n_lines_total"),
        count(lit(1)).as("n_lines_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            s => s.getField("line")),
          "\n").as("text_dedup"))
  }

  /** Embedding near-duplicate pairs: cosine >= threshold within blocking
    * groups (`blockCol`), never a global cross join. At 100 TB the block
    * key would come from a coarse quantizer (IVF cell / LSH signature) —
    * here any low-cardinality column serves.
    */
  def embeddingCosinePairs(embs: DataFrame, idCol: String, vecCol: String,
                           blockCol: String, threshold: Double): DataFrame = {
    // norms computed once per row (narrow), never per pair
    val a = embs.select(col(idCol).as("id_a"), col(vecCol).as("v_a"),
      Similarity.norm(col(vecCol)).as("n_a"), col(blockCol).as("blk"))
    val b = embs.select(col(idCol).as("id_b"), col(vecCol).as("v_b"),
      Similarity.norm(col(vecCol)).as("n_b"), col(blockCol).as("blk"))
    a.join(b, Seq("blk")).filter(col("id_a") < col("id_b"))
      .withColumn("cosine", round(
        Similarity.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")), 6))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Prefix-filtered exact set-similarity self-join (AllPairs/PPJoin
    * family — Bayardo et al. WWW'07, Xiao et al. WWW'08): all document
    * pairs whose n-gram shingle sets have Jaccard >= `threshold`,
    * EXACTLY — the prefix filter is a lossless candidate prune, never an
    * approximation (contrast [[minhashLshPairs]], which trades recall).
    *
    * Shingles are globally ordered by ascending document frequency
    * (rarest first, shingle text as the tie), each document indexes only
    * its PREFIX of length |x| − ⌊t·|x|⌋ + 1 under that order, and the
    * classical prefix-filter theorem guarantees every qualifying pair
    * (given the size filter |B| ≥ t·|A|, enforced in the join) shares at
    * least one prefix shingle. Verification then runs per candidate PAIR
    * with `array_intersect` on the two full (bounded, per-doc) sets — no
    * second explode, no re-shuffle of the corpus.
    *
    * Shape at 100 TB: candidate fan-out concentrates on RARE shingles by
    * construction — a boilerplate shingle shared by millions of
    * documents sits at the END of the frequency order and never enters a
    * prefix, the exact pathology [[ngramJaccardPairs]] needs its maxDf
    * stop-list for. The df table is Zipf-bounded (AQE broadcasts it);
    * the only wide exchanges carry (id, prefix-shingle) rows and the
    * bounded candidate pairs.
    */
  def prefixFilteredJaccardPairs(docs: DataFrame, idCol: String,
                                 textCol: String, n: Int,
                                 threshold: Double): DataFrame = {
    val ordered = setsimOrdered(docs, idCol, textCol, n, threshold)
    setsimVerify(ordered, setsimCandidates(ordered, idCol, threshold),
      idCol, threshold)
  }

  /** Stage 1 of [[prefixFilteredJaccardPairs]] (exposed for the scale
    * profiler): the checkpointed per-doc sorted-code-set table with its
    * prefix. */
  private[graft] def setsimOrdered(docs: DataFrame, idCol: String,
                                   textCol: String, n: Int,
                                   threshold: Double): DataFrame = {
    val sh = shingles(docs, idCol, textCol, n)
    // vocabulary pass: df per shingle, plus a DENSE INTEGER CODE whose
    // rank order IS the global (df asc, shingle asc) frequency order —
    // downstream, documents become sorted long arrays, candidate joins
    // key on longs, and verification intersects longs, never strings.
    // The bijection makes every count identical to the string
    // formulation. The rank is BANDED, never one global sort: rows
    // partition by (df, first code point) — bands are contiguous runs
    // of the global (df asc, shingle asc) order because UTF-8 binary
    // string order starts at the first code point — each band ranks
    // independently, and a running total over the metadata-scale
    // (df, band) size table offsets the bands back into one dense
    // 1..V sequence. Same bijection as a global row_number, but the
    // widest sort is one band, not the vocabulary.
    import org.apache.spark.sql.expressions.Window
    val dfCounts = sh.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
      .withColumn("__band", substring(col("shingle"), 1, 1))
    val bandOffsets = dfCounts.groupBy(col("__df"), col("__band"))
      .agg(count(lit(1)).as("__bn"))
      .withColumn("__off", coalesce(
        sum(col("__bn")).over(Window.orderBy(col("__df"), col("__band"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("__bn")
    val vocab = dfCounts
      .join(bandOffsets, Seq("__df", "__band"))
      .withColumn("__code", col("__off") + row_number()
        .over(Window.partitionBy(col("__df"), col("__band"))
          .orderBy(col("shingle"))).cast("long"))
      .select(col("shingle"), col("__df"), col("__code"))
    // per-doc set as the sorted code array; materialized once: probe
    // (twice, via the self-join) and both verification sides all read
    // this table — without the checkpoint the shingle+vocab+sort
    // subtree would replay four times in one plan (NOTE: localCheckpoint
    // truncates lineage — a lost block fails the job, caller retries).
    // No broadcast hint on the vocab join: the vocabulary is corpus-
    // derived (billions of shingles at 100 TB) — AQE broadcasts it when
    // its runtime size permits and shuffles on the shingle otherwise.
    sh.join(vocab, "shingle")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__code"))).as("__set"))
      .withColumn("__size", size(col("__set")).cast("long"))
      .withColumn("__prefix",
        slice(col("__set"), lit(1),
          (col("__size") - floor(lit(threshold) * col("__size")) + 1)
            .cast("int")))
      .checkpointAt("Dedup.setsimPrefix.prefixed")
  }

  /** Stage 2 of [[prefixFilteredJaccardPairs]]: the distinct candidate
    * pair table from the prefix join with the PPJoin positional filter. */
  private[graft] def setsimCandidates(ordered: DataFrame, idCol: String,
                                      threshold: Double): DataFrame = {
    // 0-based position inside the frequency-ordered prefix rides along
    // for the PPJoin positional filter below
    val probe = ordered.select(col(idCol), col("__size"),
      posexplode(col("__prefix")).as(Seq("__pos", "__code")))
    // PPJoin positional filter: the minimum overlap a qualifying pair
    // needs is α = ⌈t/(1+t)·(|A|+|B|)⌉, and a candidate first met at
    // prefix positions (i, j) can still share at most
    // 1 + min(|A|−i−1, |B|−j−1) shingles — rows whose bound cannot
    // reach α die HERE, per matching row, before the distinct
    probe.alias("a").join(probe.alias("b"),
        col("a.__code") === col("b.__code") &&
          col(s"a.$idCol") < col(s"b.$idCol") &&
          col("b.__size") >= lit(threshold) * col("a.__size") &&
          col("a.__size") >= lit(threshold) * col("b.__size") &&
          (lit(1) + least(col("a.__size") - col("a.__pos") - 1,
            col("b.__size") - col("b.__pos") - 1)) >=
            lit(threshold / (1.0 + threshold)) *
              (col("a.__size") + col("b.__size")))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
  }

  /** Stage 3 of [[prefixFilteredJaccardPairs]]: exact verification of a
    * candidate pair table against the full per-doc code sets. */
  private[graft] def setsimVerify(ordered: DataFrame, cands: DataFrame,
                                  idCol: String,
                                  threshold: Double): DataFrame = {
    // one bounded row per document on each verification side — but one
    // row per document is CORPUS-sized, so no broadcast hint: AQE
    // broadcasts the set table when its runtime size permits (the
    // single-pass verify), else the joins shuffle on the pair ids —
    // the shape that survives a corpus whose code arrays don't fit on
    // one executor
    val sets = ordered.select(col(idCol), col("__set").as("__arr"),
      col("__size"))
    cands
      .join(sets.select(col(idCol).as("id_a"),
        col("__arr").as("__arr_a"), col("__size").as("n_a")), "id_a")
      .join(sets.select(col(idCol).as("id_b"),
        col("__arr").as("__arr_b"), col("__size").as("n_b")), "id_b")
      .withColumn("n_inter",
        // merge-walk count over the SORTED code arrays (sort_array in
        // setsimOrdered is the producer) — same value as
        // size(array_intersect(...)) without materializing the
        // intersection (Expressions.SortedIntersectCount)
        graft.functions.Expressions.sorted_intersect_count(
          col("__arr_a"), col("__arr_b")))
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
      .filter(col("n_inter") >= lit(threshold) * col("n_union"))
      .withColumn("jaccard", col("n_inter") / col("n_union"))
      .select("id_a", "id_b", "n_inter", "n_union", "jaccard")
  }
}
