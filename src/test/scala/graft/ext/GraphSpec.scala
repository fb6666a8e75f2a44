package graft.ext

import graft.SparkSpec
import graft.obs.Profile

/** Connected components + dup clustering (the pairs→clusters step). */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("connected components label every member with the component min") {
    // two components: {1,2,3,4} (a path plus a chord) and {10, 11}
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (4L, 2L), (10L, 11L))
      .toDF("src", "dst")
    val got = Graph.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("pointer jumping converges in O(log diameter), not O(diameter)") {
    // a 200-node chain has diameter 199: neighbor propagation alone would
    // need ~199 rounds; with path-halving the label reaches everyone in
    // well under 15
    val chain = spark.range(199).selectExpr("id AS src", "id + 1 AS dst")
    val got = Graph.connectedComponents(chain, maxIter = 15)
      .as[(Long, Long)].collect()
    assert(got.length == 200)
    assert(got.forall(_._2 == 0L), "every chain node labels to the min (0)")
  }

  test("null ids are dropped, empty edge sets yield empty labelings") {
    val edges = Seq((Some(1L), Some(2L)), (None, Some(3L)), (Some(4L), None))
      .toDF("src", "dst")
    val got = Graph.connectedComponents(edges).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L))
    assert(Graph.connectedComponents(
      Seq.empty[(Long, Long)].toDF("src", "dst")).count() == 0)
  }

  test("reliable-checkpoint branch produces the same labeling") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    spark.conf.set(graft.query.Fixpoint.CheckpointDirKey, dir)
    try {
      val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
      val got = Graph.connectedComponents(edges).as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    } finally spark.conf.unset(graft.query.Fixpoint.CheckpointDirKey)
  }

  test("randomized parity with a driver-side union-find") {
    // deterministic pseudo-random graph: 300 nodes, ~240 edges → a mix of
    // singletons, small trees, and one larger blob
    val edges = (0 until 240).map { i =>
      val a = (i * 7919) % 300
      val b = (i * 104729 + 13) % 300
      (a.toLong, b.toLong)
    }.filter(e => e._1 != e._2)
    // reference: classic union-find on the driver
    val parent = Array.tabulate(300)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(n => n -> find(n.toInt).toLong).toMap
    // min-compression: union-find roots ARE the min member here because
    // unions always point the larger root at the smaller
    val got = Graph.connectedComponents(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  test("skewed giant component: log-diameter rounds, bounded jobs per round") {
    // one component holds a THIRD of all nodes, in the worst shape for label
    // propagation (a 1000-node chain, diameter 999); the other 2000 nodes sit
    // in 1000 two-node components. Pins the scale claims empirically:
    //  - rounds ≤ ceil(log₂ diameter) + 3 (pointer jumping halves paths —
    //    plain neighbor propagation would need ~999 rounds)
    //  - a CONSTANT number of Spark jobs per round (under AQE each shuffle
    //    stage of the round's two joins + aggregate + isEmpty probe is its
    //    own job, ~7 total): per-round work never scales with component
    //    size, count, or skew
    val chain = spark.range(999).selectExpr("id AS src", "id + 1 AS dst")
    val pairs = spark.range(1000)
      .selectExpr("10000 + 2*id AS src", "10001 + 2*id AS dst")
    val cc = Profile(spark)(Graph.connectedComponentsStats(chain.union(pairs), maxIter = 20))
    val (labels, rounds) = cc.result.get
    val got = labels.as[(Long, Long)].collect()
    assert(got.length == 3000)
    assert(got.count(_._2 == 0L) == 1000, "the giant chain labels to node 0")
    assert(got.filter(_._1 >= 10000L).forall(t => t._2 % 2 == 0 && t._2 >= 10000L),
      "each small pair labels to its own even min — no cross-contamination")
    assert(rounds <= 13, s"chain diameter 999 → ceil(log₂)=10, +3 slack; got $rounds")
    // job count: a fixed per-round stage budget (measured ~7.3 under AQE)
    // plus setup; a blow-up here means a per-round plan regression (an extra
    // exchange, a lost reused-partitioning, a join degenerating)
    val jobs = cc.jobs.size
    assert(jobs <= 9 * rounds + 10,
      s"per-round job budget exceeded: $jobs jobs over $rounds rounds")
  }

  test("dedupClusters: transitive pairs collapse into one canonical cluster") {
    // A≈B and B≈C but (A,C) never emitted — all three must share a cluster
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val got = Dedup.dedupClusters(pairs)
      .as[(Long, Long, Long)].collect()
      .map { case (doc, cl, n) => doc -> ((cl, n)) }.toMap
    assert(got == Map(
      1L -> ((1L, 3L)), 2L -> ((1L, 3L)), 3L -> ((1L, 3L)),
      7L -> ((7L, 2L)), 9L -> ((7L, 2L))))
  }

  test("gate query emits one row per paired document with scalar columns") {
    val dir = "/root/testdata/sf0.001"
    val out = Dedup.dedupClustersQuery(spark, dir)
    val rows = out.collect()
    val paired = Dedup.ngramJaccardPairs(
      graft.core.Tables.documents(spark, dir))
      .select("id_a", "id_b").as[(Long, Long)].collect()
      .flatMap(p => Seq(p._1, p._2)).toSet
    assert(rows.map(_.getLong(0)).toSet == paired,
      "cluster membership = documents appearing in at least one pair")
    // every cluster id is a member of its own cluster (canonical = min)
    val byCluster = rows.groupBy(_.getLong(1))
    byCluster.foreach { case (cl, members) =>
      assert(members.map(_.getLong(0)).min == cl,
        s"cluster $cl must be labeled by its smallest member")
      assert(members.forall(_.getLong(2) == members.length),
        s"cluster_size must equal the member count for cluster $cl")
    }
  }

  test("pageRank: hub outranks leaves, ranks deterministic, mass bounded") {
    import spark.implicits._
    // star: every leaf links to the hub and back (symmetric, no dangling)
    val leaves = (1 to 9).map(i => (s"leaf$i", "hub"))
    val edges = (leaves ++ leaves.map(_.swap)).toDF("src", "dst")
    val ranks = Graph.pageRank(edges, iterations = 5)
      .as[(String, Long)].collect().toMap
    assert(ranks.size == 10)
    val hub = ranks("hub")
    assert((1 to 9).forall(i => hub > ranks(s"leaf$i") * 3),
      s"hub must dominate leaf ranks: $ranks")
    assert(ranks.values.sum <= 1000000000000L,
      "leaky formulation: total scaled mass never exceeds the scale")
    // pure function of (edges, iterations): layout-invariant
    val again = Graph.pageRank(edges.repartition(7), iterations = 5)
      .as[(String, Long)].collect().toMap
    assert(again == ranks, "ranks must be independent of partitioning")
    // a directed chain end (dangling) leaks mass but still ranks
    val chain = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val cr = Graph.pageRank(chain, iterations = 3).as[(String, Long)].collect().toMap
    assert(cr("c") > cr("b") && cr("b") > cr("a"),
      s"rank accumulates down the chain: $cr")
  }
}
