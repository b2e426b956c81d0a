package graft

import org.apache.spark.sql.functions._
import graft.operators.{Clean, Graph}
import graft.schema.TmdbCorpus

class GraphSpec extends SparkTestBase {
  import spark.implicits._

  test("J3: edge builder drops edges with missing endpoints (MATCH semantics)") {
    val cands = Seq((1L, 10L), (1L, 99L), (7L, 10L)).toDF("head_id", "tail_id")
    val heads = Seq(Tuple1(1L), Tuple1(2L)).toDF("head_id")
    val tails = Seq(Tuple1(10L), Tuple1(11L)).toDF("tail_id")
    val edges = Graph.buildEdges(cands, heads, tails, "head_id", "tail_id", "HAS")
    val got = edges.select("relationship_id").as[String].collect().toSet
    assert(got == Set("1-10"), "missing head 7 and missing tail 99 must drop")
    assert(edges.columns.toSet ==
      Set("head_id", "tail_id", "relationship_id", "rel_type"))
  }

  test("J3: duplicate candidates collapse to one edge (first-write-wins)") {
    val cands = Seq((1L, 10L), (1L, 10L)).toDF("head_id", "tail_id")
    val nodes1 = Seq(Tuple1(1L)).toDF("head_id")
    val nodes2 = Seq(Tuple1(10L)).toDF("tail_id")
    assert(Graph.buildEdges(cands, nodes1, nodes2, "head_id", "tail_id", "HAS").count() == 1)
  }

  test("J4: company ancestor closure 21 -> 20 -> 10 with depths") {
    val companies = Clean.companyDetails(TmdbCorpus.companies(spark))
    val edges = companies.filter(col("parent_company_id").isNotNull)
      .select(col("company_id").as("child"), col("parent_company_id").as("parent"))
    val closure = Graph.ancestorClosure(edges)
    val got = closure.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((21L, 20L, 1), (20L, 10L, 1), (21L, 10L, 2)))
  }

  test("J4: cycle terminates (the reference would loop forever)") {
    val cyclic = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("child", "parent")
    val closure = Graph.ancestorClosure(cyclic, maxDepth = 10)
    // every node reaches every node (incl itself) exactly once
    assert(closure.count() == 9)
    assert(closure.groupBy("child", "ancestor").count()
      .filter(col("count") > 1).isEmpty)
  }

  test("J4: driver fast path and distributed loop agree row for row") {
    // diamond (per-path multiplicity at depth 2) + a cycle + a dup edge
    val edges = Seq(
      (1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), // diamond: 1 reaches 4 twice
      (5L, 6L), (6L, 5L),                     // 2-cycle
      (7L, 8L), (7L, 8L)                      // duplicate edge
    ).toDF("child", "parent")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val driver = Graph.ancestorClosure(edges) // under threshold
    val dist = Graph.ancestorClosure(edges, driverRows = 0) // force loop
    assert(sorted(driver) == sorted(dist))
    // per-path multiplicity preserved: (1, 4, 2) appears twice
    assert(sorted(driver).count(_ == (1L, 4L, 2)) == 2)
  }

  test("J4: recursive-CTE idiom agrees with the iterative closure") {
    // acyclic forest (WITH RECURSIVE has no cycle guard by design — the
    // iterative twin's maxDepth covers that case)
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), // 3-deep chain
      (5L, 3L),                     // second child joining mid-chain
      (6L, 7L)                      // separate pair
    ).toDF("child", "parent")
    edges.createOrReplaceTempView("graft_spec_hier_edges")
    val rcte = spark.sql("""
      WITH RECURSIVE anc(child, ancestor, depth) AS (
        SELECT child, parent, 1 FROM graft_spec_hier_edges
        UNION ALL
        SELECT a.child, e.parent, a.depth + 1
        FROM anc a JOIN graft_spec_hier_edges e ON e.child = a.ancestor
      )
      SELECT child, ancestor, depth FROM anc""")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(sorted(rcte) == sorted(Graph.ancestorClosure(edges)))
  }

  test("pageRankScaled: cycle fixed point, dangling mass, exact integers") {
    // 3-cycle, outdeg 1 everywhere: base is the exact fixed point
    // (150000000 + (85 * 1e9) div 100 = 1e9)
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val cn = Seq(1L, 2L, 3L).toDF("node")
    val r = Graph.pageRankScaled(cyc, cn, iterations = 5)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r == Map(1L -> 1000000000L, 2L -> 1000000000L, 3L -> 1000000000L))

    // A -> B, C isolated, 2 iterations by hand:
    // iter1: A=C=150000000 (base share), B=150000000+850000000=1000000000
    // iter2: B receives 85% of A's iter-1 rank: 150000000 +
    //        (85 * 150000000) div 100 = 277500000; A=C=150000000
    // (B's own mass leaves the system - dangling, documented)
    val ab = Seq((10L, 20L)).toDF("src", "dst")
    val abn = Seq(10L, 20L, 30L).toDF("node")
    val r2 = Graph.pageRankScaled(ab, abn, iterations = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r2 == Map(10L -> 150000000L, 20L -> 277500000L, 30L -> 150000000L))

    // checkpointing mid-run changes nothing
    val r3 = Graph.pageRankScaled(cyc, cn, iterations = 5, checkpointInterval = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r3 == r)

    // driver fast path == distributed rounds, bit for bit (integer
    // arithmetic is order-independent), incl. a non-node destination
    // and a non-node source that must carry no rank
    val messy = Seq((1L, 2L), (1L, 99L), (98L, 1L), (2L, 1L)).toDF("src", "dst")
    val mn = Seq(1L, 2L, 3L).toDF("node")
    def ranksOf(driverRows: Int) =
      Graph.pageRankScaled(messy, mn, iterations = 3, driverRows = driverRows)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(ranksOf(100000) == ranksOf(0))
  }

  test("pageRankWeightedScaled: weights steer the flow; driver == distributed") {
    // A has two out-edges: w=3 to B, w=1 to C. Round 1:
    // B gets 15e7 + 85% of (1e9*3) div 4 = 15e7 + 637500000 = 787500000
    // C gets 15e7 + 85% of (1e9*1) div 4 = 15e7 + 212500000 = 362500000
    val e = Seq((1L, 2L, 3L), (1L, 3L, 1L)).toDF("src", "dst", "w")
    val n = Seq(1L, 2L, 3L).toDF("node")
    val r = Graph.pageRankWeightedScaled(e, n, iterations = 1)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r == Map(1L -> 150000000L, 2L -> 787500000L, 3L -> 362500000L))

    // equal weights degenerate to the unweighted walk exactly when
    // rank*w div sw has no extra truncation (w=1 everywhere: identical)
    val eu = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L)).toDF("src", "dst", "w")
    val rw = Graph.pageRankWeightedScaled(eu, n, iterations = 4)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    val ru = Graph.pageRankScaled(eu.select(col("src"), col("dst")), n,
      iterations = 4).collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(rw == ru)

    // driver fast path == distributed rounds bit for bit
    val big = Seq((1L, 2L, 5L), (2L, 3L, 2L), (3L, 1L, 7L), (1L, 3L, 1L))
      .toDF("src", "dst", "w")
    def of(driverRows: Int) =
      Graph.pageRankWeightedScaled(big, n, iterations = 3, driverRows = driverRows)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(of(100000) == of(0))
  }

  test("personalizedPageRankScaled: seed restart by hand; driver == distributed") {
    // seed {1} on 1 -> 2 -> 3, 1 iteration by hand:
    // rank0 = (1e9, 0, 0); iter1: node1 = baseShare only = 150000000,
    // node2 = 0 + 85% of (1e9 div 1) = 850000000, node3 = 0
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val n = Seq(1L, 2L, 3L).toDF("node")
    val s1 = Seq(1L).toDF("node")
    val r = Graph.personalizedPageRankScaled(e, n, s1, iterations = 1)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r == Map(1L -> 150000000L, 2L -> 850000000L, 3L -> 0L))

    // driver fast path == distributed rounds bit for bit, with the same
    // schema: duplicate seeds collapse (distinct), a seed outside the
    // node set is ignored, non-node sources carry no rank, non-node
    // destinations drop
    val messy = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 99L), (98L, 2L))
      .toDF("src", "dst")
    val seeds = Seq(1L, 1L, 3L, 77L).toDF("node")
    def run(driverRows: Int) =
      Graph.personalizedPageRankScaled(messy, n, seeds, iterations = 3,
        driverRows = driverRows)
    def of(driverRows: Int) =
      run(driverRows).collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(of(100000) == of(0))
    assert(run(100000).schema == run(0).schema)
  }

  test("hitsScaled: star graph by hand, checkpoint invariance, edgeless zeros") {
    // 1 -> {2,3,4}, 5 -> 2, 6 isolated; two rounds by hand (scale 1e6):
    // r1 auth sums (2:2e6, 3:1e6, 4:1e6) -> norm (2:1e6, 3:5e5, 4:5e5);
    //    hub sums (1:2e6, 5:1e6)         -> norm (1:1e6, 5:5e5)
    // r2 auth sums (2:1.5e6, 3:1e6, 4:1e6) -> (2:1e6, 3:666666, 4:666666);
    //    hub sums (1:2333332, 5:1e6)       -> (1:1e6, 5:428571)
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 2L)).toDF("src", "dst")
    val n = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("node")
    val r = Graph.hitsScaled(e, n, iterations = 2)
      .collect().map(x => (x.getLong(0), (x.getLong(1), x.getLong(2)))).toMap
    assert(r == Map(
      1L -> (1000000L, 0L), 2L -> (0L, 1000000L), 3L -> (0L, 666666L),
      4L -> (0L, 666666L), 5L -> (428571L, 0L), 6L -> (0L, 0L)))

    // checkpointing mid-run changes nothing (integer rounds are exact)
    val rc = Graph.hitsScaled(e, n, iterations = 2, checkpointInterval = 1)
      .collect().map(x => (x.getLong(0), (x.getLong(1), x.getLong(2)))).toMap
    assert(rc == r)

    // edgeless graph: both maxes are 0 -> all scores 0, no division error
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    val z = Graph.hitsScaled(none, n, iterations = 1)
      .collect().map(x => (x.getLong(0), (x.getLong(1), x.getLong(2)))).toMap
    assert(z == n.as[Long].collect().map(_ -> ((0L, 0L))).toMap)

    // driver fast path == distributed rounds bit for bit, incl. edges
    // with a non-node endpoint (dropped on both paths)
    val messy = e.union(Seq((1L, 99L), (98L, 2L)).toDF("src", "dst"))
    def hitsOf(driverRows: Int) =
      Graph.hitsScaled(messy, n, iterations = 2, driverRows = driverRows)
        .collect().map(x => (x.getLong(0), (x.getLong(1), x.getLong(2)))).toMap
    assert(hitsOf(100000) == hitsOf(0))
  }

  test("resourceAllocation: hand-computed hub discount, adjacency excluded") {
    // star 1-{2,3,4} plus 2-5, 3-5; degrees 1:3, 2:2, 3:2, 4:1, 5:2
    // pair (2,3): via center 1 (1e9 div 3) + center 5 (1e9 div 2)
    // pair (1,5): via centers 2 and 3 (5e8 each)
    // pairs (2,4),(3,4): single wedge -> cut by minCommon=2
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 5L), (3L, 5L))
      .toDF("src", "dst")
    val out = Graph.resourceAllocation(e, "src", "dst", minCommon = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(out == Set((2L, 3L, 2L, 833333333L), (1L, 5L, 2L, 1000000000L)))

    // an adjacent pair sharing neighbors must NOT be predicted: close
    // the 2-3 edge and the triangle corners disappear from the output
    val e2 = e.union(Seq((2L, 3L)).toDF("src", "dst"))
    val out2 = Graph.resourceAllocation(e2, "src", "dst", minCommon = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!out2.contains((2L, 3L)))
  }

  test("K3: upsert converges on re-run (idempotent dup-tolerant sink)") {
    val batch = Seq((1L, "a"), (2L, "b"), (2L, "b2")).toDF("id", "v")
    val once = Graph.upsertNodes(batch, None, "id")
    assert(once.count() == 2)
    val twice = Graph.upsertNodes(batch, Some(once), "id")
    assert(twice.count() == 2, "re-running the same batch must not grow the table")
    // first write wins: the original value survives
    val v1 = twice.filter(col("id") === 1).select("v").as[String].collect().head
    assert(v1 == "a")
  }

  test("connected components: chains, cliques, singletons") {
    // component {1,2,3} via chain, {10,11} direct, 99 isolated
    val edges = Seq((2L, 1L), (3L, 2L), (10L, 11L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 99L).toDF("node")
    val comps = Graph.connectedComponents(edges, extraNodes = Some(nodes))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 99L -> 99L))
  }

  test("connected components converge on a long path within diameter rounds") {
    val path = (1L until 20L).map(i => (i, i + 1)).toDF("src", "dst")
    val comps = Graph.connectedComponents(path, maxIter = 25)
    assert(comps.select("component").distinct().count() == 1)
    assert(comps.filter(col("component") =!= 1L).isEmpty)
  }

  test("large-star/small-star components match min-label on random graphs") {
    val rng = new scala.util.Random(11)
    (0 until 3).foreach { trial =>
      val n = 40 + trial * 20
      val edges = (0 until n).map { _ =>
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong)
      }.toDF("src", "dst")
      val nodes = (0L until n.toLong).toDF("node")
      // three independent solvers must agree: driver union-find (the
      // small-graph fast path), the distributed min-label loop
      // (driverRows=0 forces it), and large-star/small-star
      val byUnionFind = Graph.connectedComponents(edges, maxIter = 50,
          extraNodes = Some(nodes))
        .as[(Long, Long)].collect().toMap
      val byLabel = Graph.connectedComponents(edges, maxIter = 50,
          extraNodes = Some(nodes), driverRows = 0)
        .as[(Long, Long)].collect().toMap
      val byStar = Graph.connectedComponentsStar(edges,
          extraNodes = Some(nodes))
        .as[(Long, Long)].collect().toMap
      assert(byStar == byLabel, s"trial $trial: algorithms disagree")
      assert(byUnionFind == byLabel, s"trial $trial: driver path disagrees")
    }
  }

  test("large-star/small-star collapses a 500-node chain in O(log n) rounds") {
    // a path graph has diameter 499: min-label needs ~500 rounds, the
    // star algorithm converges within its default maxIter of 30
    val chain = (0L until 499L).map(i => (i, i + 1)).toDF("src", "dst")
    val comps = Graph.connectedComponentsStar(chain)
    assert(comps.select("component").distinct().as[Long].collect().toSeq == Seq(0L))
    assert(comps.count() == 500)
  }

  test("iterative operators clean owned temp work dirs down to the final table") {
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def roundDirs: Set[java.nio.file.Path] =
      java.nio.file.Files.list(tmp).iterator().asScala
        .filter(_.getFileName.toString.startsWith("graft-rounds")).toSet
    val before = roundDirs

    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    assert(Graph.connectedComponents(edges).count() == 5)
    val parents = Seq((2L, 1L), (3L, 2L)).toDF("child", "parent")
    assert(Graph.ancestorClosure(parents).count() == 3)

    // tiny graphs take the checkpointed round path: the results are
    // self-contained, so the owned work dirs are removed entirely
    val created = roundDirs -- before
    assert(created.isEmpty, s"leaked owned work dirs: $created")
  }

  test("incremental components equal a full recompute and keep labels stable") {
    val week1 = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val labels1 = Graph.connectedComponents(week1)
    // new batch: fresh cluster (20,21) + a bridge merging 3 with 10
    val week2 = Seq((20L, 21L), (3L, 10L)).toDF("src", "dst")
    val incr = Graph.incrementalComponents(labels1, week2)
      .as[(Long, Long)].collect().toMap
    val full = Graph.connectedComponents(week1.unionByName(week2))
      .as[(Long, Long)].collect().toMap
    assert(incr == full, "incremental must equal the full recompute")
    assert(incr(11L) == 1L, "bridged clusters adopt the min id of the union")
    assert(incr(21L) == 20L, "untouched new cluster labels by its own min")
  }

  test("K8: delete-by-key anti-join rewrite") {
    val t = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("movie_id", "v")
    val victims = Seq(Tuple1(2L)).toDF("movie_id")
    assert(Graph.deleteByKey(t, victims, "movie_id").count() == 2)
  }

  test("kCore: peeling cascades along a tail; the clique survives") {
    // 4-clique {1,2,3,4} with a path tail 4-5-6: k=2 peels 6 (deg 1)
    // in round 1, which drops 5 to deg 1 and peels it round 2
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val r1 = Graph.kCore(edges, "src", "dst", k = 2L, rounds = 1)
      .as[(Long, Long)].collect().toMap
    // after one round only 6 is gone; 5 still holds its 4-edge
    assert(r1 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 4L, 5L -> 1L))
    val r2 = Graph.kCore(edges, "src", "dst", k = 2L, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(r2 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // fixpoint: further rounds change nothing
    val r3 = Graph.kCore(edges, "src", "dst", k = 2L, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(r3 == r2)
  }

  test("kCore: duplicate and reversed edges collapse before peeling") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L))
      .toDF("src", "dst")
    val out = Graph.kCore(edges, "src", "dst", k = 2L, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("labelPropagation: mode label with smallest-label ties, per round") {
    // path 1-2-3: round 1: v1<-{2}, v2<-{1,3}->1 (tie->smallest),
    // v3<-{2}; round 2: v1<-{1}? no: v1's neighbor is v2 with label 1
    // -> v1=1; v2 neighbors {2,2}... labels(1)=2, labels(3)=2 -> v2=2;
    // v3 neighbor v2 label 1 -> 1
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val r1 = Graph.labelPropagation(edges, "src", "dst", rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 2L, 2L -> 1L, 3L -> 2L))
    val r2 = Graph.labelPropagation(edges, "src", "dst", rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(r2 == Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
  }

  test("labelPropagation: a clique collapses to its smallest label") {
    val edges = Seq((5L, 6L), (5L, 7L), (6L, 7L)).toDF("src", "dst")
    val out = Graph.labelPropagation(edges, "src", "dst", rounds = 2)
      .as[(Long, Long)].collect().toMap
    // round 1: 5<-{6,7}->6; 6<-{5,7}->5; 7<-{5,6}->5
    // round 2: 5<-{5,5}->5; 6<-{6,5}->5 (tie smallest); 7<-{6,5}->5
    assert(out == Map(5L -> 5L, 6L -> 5L, 7L -> 5L))
  }

  test("bounded iteratives: driver fast path == distributed rounds (r17)") {
    // a graph with a cycle (re-reachable vertices at higher hops), a
    // tail, an isolated seed, parallel/reversed duplicate edges, and a
    // weighted chord — every shape the driver twins must reproduce
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), // 4-cycle
      (4L, 5L), (5L, 6L),                     // tail
      (2L, 1L), (1L, 2L),                     // duplicates/reversed
      (7L, 8L)                                // separate component
    ).toDF("src", "dst")
    val seeds = Seq(1L, 42L).toDF("n") // 42 is not in the graph
    def bfs(driverRows: Int) =
      Graph.bfsHops(edges, "src", "dst", seeds, "n", maxHops = 3,
        driverRows = driverRows).as[(Long, Long)].collect().toMap
    assert(bfs(100000) == bfs(0))

    val wedges = Seq(
      (1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 1L), (4L, 1L, 10L),
      (1L, 3L, 7L), (1L, 3L, 5L) // parallel edges, min collapses
    ).toDF("src", "dst", "w")
    def sssp(driverRows: Int) =
      Graph.ssspBounded(wedges, "src", "dst", "w", seeds, "n", maxHops = 3,
        driverRows = driverRows).as[(Long, Long)].collect().toMap
    assert(sssp(100000) == sssp(0))

    def lp(driverRows: Int) =
      Graph.labelPropagation(edges, "src", "dst", rounds = 3,
        driverRows = driverRows).as[(Long, Long)].collect().toMap
    assert(lp(100000) == lp(0))

    def core(driverRows: Int) =
      Graph.kCore(edges, "src", "dst", k = 2L, rounds = 3,
        driverRows = driverRows).as[(Long, Long)].collect().toMap
    assert(core(100000) == core(0))

    // null ids must take the distributed loop, not NPE in the twin
    val withNull = Seq((Some(1L), Some(2L)), (None, Some(3L)))
      .toDF("src", "dst")
    val nOut = Graph.bfsHops(withNull, "src", "dst", Seq(1L).toDF("n"), "n",
      maxHops = 2).as[(Long, Long)].collect().toMap
    assert(nOut == Map(1L -> 0L, 2L -> 1L))
  }
}

