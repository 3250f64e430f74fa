package graft.ext

import graft.SparkSpec

/** Connected-components cluster assembly over duplicate pairs. */
class DedupClusterSpec extends SparkSpec {

  private def labelsOf(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    DedupCluster.connectedComponents(pairs.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("chain, triangle and isolated pair collapse to component minima") {
    val got = labelsOf(Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("long path converges (multi-round propagation, reversed ids)") {
    // worst case for min-propagation: the min sits at one END of a path
    // and must travel the full diameter
    val n = 12L
    val got = labelsOf((1L until n).map(i => (n - i, n - i + 1)))
    assert(got === (1L to n).map(_ -> 1L).toMap)
  }

  test("empty pair set yields empty labels without failing convergence") {
    assert(labelsOf(Seq.empty) === Map.empty)
  }

  private def propagateLabelsOf(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    DedupCluster.connectedComponentsPropagate(pairs.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("driver union-find and propagation agree on chain, clique and random graphs") {
    val chain = (1L until 16L).map(i => (16L - i, 16L - i + 1))
    val mixed = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
    // deterministic pseudo-random graph: 60 edges over 40 vertices
    val rand = (0 until 60).map { i =>
      val a = (i * 7919L) % 40 + 1
      val b = (i * 104729L + 13) % 40 + 1
      (math.min(a, b), math.max(a, b))
    }.filter { case (a, b) => a != b }
    for (g <- Seq(chain, mixed, rand)) {
      // labelsOf routes through the count-gated driver union-find;
      // the distributed propagation loop must return the identical
      // relation
      assert(propagateLabelsOf(g) === labelsOf(g), s"propagate differs on $g")
    }
  }

  test("q_dedup_cluster n_members sums to total paired docs at sf0.001") {
    val pairs = DedupQueries.defs("q_dedup_minhash").build(spark, sf())
    val docsInPairs = pairs.select("doc_a").union(pairs.select("doc_b"))
      .distinct().count()
    val clusters = DedupQueries.defs("q_dedup_cluster").build(spark, sf())
      .collect()
    assert(clusters.map(_.getAs[Long]("n_members")).sum === docsInPairs)
    // every cluster id is its own minimum member: max_member >= cluster_id
    assert(clusters.forall(r =>
      r.getAs[Long]("max_member") >= r.getAs[Long]("cluster_id")))
  }
}
