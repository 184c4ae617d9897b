package graft

import graft.operators.{Dedup, Graph}
import org.apache.spark.sql.functions._

@org.scalatest.tags.Slow
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def cc(
      edges: Seq[(Long, Long)],
      maxDriverEdges: Int = Graph.DefaultMaxDriverEdges): Map[Long, Long] =
    Graph
      .connectedComponents(edges.toDF("s", "d"), "s", "d", maxDriverEdges = maxDriverEdges)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap

  test("chain collapses to one component labeled by its minimum") {
    // 5-4, 4-3, 3-2, 2-1: transitivity must label all five with 1
    val got = cc(Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("string node ids cluster correctly (no silent NULL-cast edge drop)") {
    // with ANSI off, cast('vendor-a' AS LONG) is NULL — an unconditional
    // long cast dropped every edge and returned no clusters, silently
    val edges = Seq(
      ("vendor-a", "vendor-b"), ("vendor-b", "vendor-c"), // one chain family
      ("store-x", "store-y")
    ).toDF("s", "d")
    val got = Graph.connectedComponents(edges, "s", "d")
      .as[(String, String)].collect().toMap
    assert(got.keySet == Set("vendor-a", "vendor-b", "vendor-c", "store-x", "store-y"))
    assert(Set(got("vendor-a"), got("vendor-b"), got("vendor-c")).size == 1,
      s"chain family split: $got")
    assert(got("store-x") == got("store-y"))
    assert(got("vendor-a") != got("store-x"), s"families merged: $got")
    // the representative is a member of its own component
    assert(Set("vendor-a", "vendor-b", "vendor-c").contains(got("vendor-a")))
  }

  test("null endpoints drop as EDGES, survivors are singletons; fractional ids route hashed") {
    // xxhash64(null) is the SEED (42L) — without the pre-hash filter every
    // null endpoint is one shared phantom node merging unrelated components.
    // The EDGE drops; its non-null endpoint stays as a singleton — the
    // integral path's semantics (greatest/least skip nulls there, the node
    // list keeps the survivor), and the two id-type regimes must agree: a
    // doc whose only pair has a null partner must not vanish from the
    // component map just because its ids happen to be strings.
    val withNulls = Seq(
      (null.asInstanceOf[String], "x"), (null.asInstanceOf[String], "y"),
      ("a", "b")
    ).toDF("s", "d")
    val got = Graph.connectedComponents(withNulls, "s", "d")
      .as[(String, String)].collect().toMap
    assert(got.keySet == Set("a", "b", "x", "y"),
      s"half-null survivors must stay as singletons: $got")
    assert(got("a") == got("b"))
    assert(got("x") == "x" && got("y") == "y", s"x/y are their own components: $got")
    // and the integral path agrees on the same shape
    val gotNum = Graph.connectedComponents(
      Seq((java.lang.Long.valueOf(7L), null.asInstanceOf[java.lang.Long]),
        (java.lang.Long.valueOf(1L), java.lang.Long.valueOf(2L))).toDF("s", "d"),
      "s", "d").as[(Long, Long)].collect().toMap
    assert(gotNum == Map(7L -> 7L, 1L -> 1L, 2L -> 1L), s"integral path: $gotNum")
    // fractional ids: cast("long") would collide 1.2 and 1.7 on node 1 and
    // wrongly merge {1.2, 5.0} with {1.7, 9.0}; the hashed path keeps them apart
    val frac = Seq((1.2, 5.0), (1.7, 9.0)).toDF("s", "d")
    val fc = Graph.connectedComponents(frac, "s", "d")
      .as[(String, String)].collect().toMap
    assert(fc.keySet == Set("1.2", "5.0", "1.7", "9.0"))
    assert(fc("1.2") == fc("5.0") && fc("1.7") == fc("9.0"))
    assert(fc("1.2") != fc("1.7"), s"fractional ids truncation-merged: $fc")
  }

  test("disjoint components, direction and self-loops are irrelevant") {
    val got = cc(Seq((1L, 2L), (2L, 1L), (3L, 3L), (3L, 4L), (10L, 20L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 10L -> 10L, 20L -> 10L))
  }

  test("matches union-find on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 200
      val edges = Seq.fill(150)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(e => e._1 != e._2)
      // reference: plain union-find
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) => val (ra, rb) = (find(a.toInt), find(b.toInt)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
      val want = edges
        .flatMap(e => Seq(e._1, e._2)).distinct
        .map(id => id -> {
          // component label = min node id among members present in edge list
          val root = find(id.toInt)
          edges.flatMap(e => Seq(e._1, e._2)).filter(m => find(m.toInt) == root).min
        }).toMap
      // both sides of the size gate: 0 forces the distributed star rounds
      for (cap <- Seq(0, Graph.DefaultMaxDriverEdges))
        assert(cc(edges, cap) == want, s"trial $trial")
    }
  }

  test("star graph with a hot center stays join-based (high degree is fine)") {
    val center = 0L
    val edges = (1L to 500L).map(i => (center, i))
    for (cap <- Seq(0, Graph.DefaultMaxDriverEdges)) {
      val got = cc(edges, cap)
      assert(got.size == 501 && got.values.forall(_ == 0L))
    }
  }

  test("minhashClusterEdges yields identical components to minhashCandidatePairs") {
    val docs = (1L to 60L)
      .map(i => (i, if (i % 3 == 0) s"shared duplicate content block number ${i % 9} repeated here"
                 else s"unique document $i with its own words ${i * 17}"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text", 5, 12, 4)
    val stars = Dedup.minhashClusterEdges(docs, "doc_id", "text", 5, 12, 4)
    assert(stars.count() <= pairs.count())
    val a = Graph.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Graph.connectedComponents(stars, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b && a.nonEmpty)
  }

  test("dropNearDups keeps exactly one survivor per cluster plus untouched docs") {
    val docs = (1L to 10L).map(i => (i, s"d$i")).toDF("doc_id", "body")
    val pairs = Seq((2L, 5L), (5L, 9L), (3L, 4L)).toDF("doc_a", "doc_b")
    val kept = Dedup.dropNearDups(docs, "doc_id", pairs).select($"doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // clusters {2,5,9}->keep 2, {3,4}->keep 3; 1,6,7,8,10 untouched
    assert(kept == Seq(1L, 2L, 3L, 6L, 7L, 8L, 10L))
  }

  test("keepBestPerCluster keeps the highest-quality member, ties to smallest id") {
    val docs = Seq(
      (1L, "d1", 0.5), (2L, "d2", 0.1), (3L, "d3", 0.9), (4L, "d4", 0.9),
      (5L, "d5", 0.7), (6L, "d6", 0.2), (9L, "d9", 0.7)
    ).toDF("doc_id", "body", "q")
    val pairs = Seq((2L, 5L), (5L, 9L), (3L, 4L)).toDF("doc_a", "doc_b")
    val kept = Dedup
      .keepBestPerCluster(docs, "doc_id", pairs, $"q")
      .select($"doc_id", $"cluster")
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .sortBy(_._1)
      .toSeq
    // {2,5,9}: best q is 0.7 shared by 5 and 9 -> keep 5 (smaller id);
    // {3,4}: q tie at 0.9 -> keep 3; singletons 1, 6 survive as themselves
    assert(kept == Seq(1L -> 1L, 3L -> 3L, 5L -> 2L, 6L -> 6L))
  }

  // ------------------------------------------------------------------
  // pageRankExact
  // ------------------------------------------------------------------

  private def ranks(edges: Seq[(String, String)], iters: Int = 3): Map[String, Long] =
    Graph
      .pageRankExact(edges.toDF("s", "d"), "s", "d", iterations = iters)
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap

  test("pageRankExact replays the integer recurrence exactly (hand-computed 3 nodes)") {
    // a -> b, a -> c, b -> c; c dangling. scale 1e9, teleport 1.5e8.
    val r = ranks(Seq("a" -> "b", "a" -> "c", "b" -> "c"), iters = 1)
    // r1(a) = teleport (no in-edges)
    // r1(b) = teleport + 85*(1e9 div 2) div 100 = 150000000 + 425000000
    // r1(c) = teleport + 85*(1e9 div 2 + 1e9 div 1) div 100
    assert(r("a") == 150000000L)
    assert(r("b") == 150000000L + 425000000L)
    assert(r("c") == 150000000L + 85L * 1500000000L / 100L)
  }

  test("pageRankExact: sink accumulates, source holds teleport, ranks are deterministic") {
    val chain = Seq("a" -> "b", "b" -> "c", "c" -> "d")
    val r = ranks(chain)
    assert(r("a") == 150000000L) // teleport only, every iteration
    assert(r("d") > r("c") && r("c") > r("a")) // authority flows down the chain
    // bit-identical across runs AND partitionings (the design claim)
    val again = Graph
      .pageRankExact(
        chain.toDF("s", "d").repartition(7), "s", "d", iterations = 3)
      .collect()
      .map(x => x.getString(0) -> x.getLong(1))
      .toMap
    assert(again == r)
  }

  test("pageRankExact: duplicate and null edges drop; hot dst is one aggregate group") {
    val dup = Seq("a" -> "b", "a" -> "b", "a" -> "c") ++
      Seq(("x", null: String), (null: String, "y")) ++
      (1 to 50).map(i => s"n$i" -> "hub")
    val r = ranks(dup)
    // duplicate a->b counts once: outdeg(a)=2, so b and c tie exactly
    assert(r("b") == r("c"))
    // null endpoints contribute no nodes
    assert(!r.contains(null) && !r.contains("x") && !r.contains("y"))
    // the 50-in-degree hub outranks everything
    assert(r("hub") == r.values.max)
  }

  test("pageRankExact guards: iterations and damping validated") {
    val e = Seq("a" -> "b").toDF("s", "d")
    intercept[IllegalArgumentException](Graph.pageRankExact(e, "s", "d", iterations = 0))
    intercept[IllegalArgumentException](Graph.pageRankExact(e, "s", "d", dampNum = 100))
  }

  test("pageRankExact: dangling redistribution conserves mass; default drops it (documented)") {
    // a -> b, b dangling. N=2: share = 1e9 div 2 = 5e8 in round 1.
    val r = Graph
      .pageRankExact(Seq("a" -> "b").toDF("s", "d"), "s", "d",
        iterations = 1, redistributeDangling = true)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r == Map(
      "a" -> (150000000L + 85L * 500000000L / 100L), // teleport + 85%·share
      "b" -> (150000000L + 85L * 1500000000L / 100L))) // + a's whole rank
    assert(r.values.sum == 2L * 1000000000L) // exactly conserved here
    // multi-round totals stay within the integer-division slack of N·scale
    val edges2 = Seq("a" -> "b", "a" -> "c", "b" -> "c", "d" -> "a").toDF("s", "d")
    val (n, eCnt, iters) = (4L, 4L, 8)
    val total = Graph
      .pageRankExact(edges2, "s", "d", iterations = iters, redistributeDangling = true)
      .agg(sum($"rank")).head().getLong(0)
    assert(math.abs(total - n * 1000000000L) <= (eCnt + 2 * n) * iters,
      s"mass not conserved: $total")
    // the default's DOCUMENTED deviation: dangling mass drains each round
    val dropped = Graph.pageRankExact(edges2, "s", "d", iterations = iters)
      .agg(sum($"rank")).head().getLong(0)
    assert(dropped < total)
    // and the conserving variant stays bit-deterministic under repartition
    val again = Graph
      .pageRankExact(edges2.repartition(7), "s", "d",
        iterations = iters, redistributeDangling = true)
      .agg(sum($"rank")).head().getLong(0)
    assert(again == total)
  }

  test("pageRankExact: results are lineage-free and the helper caches are released") {
    val edges = Seq("a" -> "b", "b" -> "a", "a" -> "c").toDF("s", "d")
    def planNodes(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.logical.collect { case n => n }.size
    spark.sharedState.cacheManager.clearCache()
    val deep = Graph.pageRankExact(edges, "s", "d", iterations = 25)
    // the returned frame is an EAGER checkpoint: lineage is one leaf
    // regardless of iteration depth (the mid-run every-10 checkpoints
    // bound the analyzer cost of the in-loop actions; the final one makes
    // the result independent of the persisted helpers)
    assert(planNodes(deep) <= 2, s"deep=${planNodes(deep)}")
    // ...which is what lets the operator release eo/nodes/dangling
    // immediately: a long-lived session calling this per crawl round must
    // not accumulate edge-sized cache entries (CacheManager holds strong
    // refs until unpersist — GC never reclaims them)
    assert(spark.sharedState.cacheManager.isEmpty,
      "pageRankExact must unpersist its helper frames before returning")
    // and it still executes to the deterministic fixed-iteration result
    val r = deep.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r.keySet == Set("a", "b", "c") && r.values.forall(_ >= 150000000L))
  }
}
