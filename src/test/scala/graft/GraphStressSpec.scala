package graft

import graft.operators.Graph

/** Adversarial-topology stress for the CC loop: a long path maximizes
  * diameter (the worst case for naive label propagation) and exercises the
  * O(log n) round bound the star algorithm claims — and with it the
  * maxIter=50 convergence guard. Runs on both sides of the size gate.
  */
@org.scalatest.tags.Slow
class GraphStressSpec extends SparkSpec {
  import spark.implicits._

  test("a 20k-node shuffled path collapses to one component within the round budget") {
    val n = 20000
    val rnd = new scala.util.Random(3)
    val perm = rnd.shuffle((0L until n.toLong).toVector)
    val edges = (0 until n - 1).map(i => (perm(i), perm(i + 1))).toDF("s", "d")
    // 0 forces the distributed star rounds (and their maxIter guard); the
    // default cap resolves the same path on the driver
    for (cap <- Seq(0, Graph.DefaultMaxDriverEdges)) {
      val cc = Graph.connectedComponents(edges, "s", "d", maxDriverEdges = cap)
      val comps = cc.select($"component").distinct().count()
      assert(comps == 1L)
      assert(cc.count() == n.toLong)
    }
  }
}
