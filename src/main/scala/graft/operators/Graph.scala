package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StructField, StructType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Connected components — the collapse step of near-dedup.
  *
  * The pair generators ([[Dedup.minhashCandidatePairs]], simhash/winnowing
  * pairs, [[Dedup.embedNearDupPairs]]) emit similarity EDGES; an actual
  * deduplicated corpus needs the transitive closure: duplicate CLUSTERS and
  * one survivor per cluster. Transitivity matters — A~B and B~C puts A and C
  * in one cluster even when the A–C pair was never emitted.
  *
  * Algorithm: alternating small-star / large-star (Kiveris, Lattanzi,
  * Mirrokni, Rastogi & Vassilvitskii, "Connected Components in MapReduce and
  * Beyond", SoCC 2014). Each round is expressed as a per-node min +
  * re-attach — implemented here as groupBy + self-join on the SAME key (one
  * hash shuffle, and Catalyst reuses the exchange for both sides), never as
  * a per-node neighbor list, so a node of any degree (the hot cluster at
  * 100 TB) stays within normal shuffle machinery instead of one task's
  * memory. Converges in O(log n) alternating rounds on real graphs; each
  * round's output is localCheckpoint'ed to truncate the iterative lineage
  * (without it the plan doubles per round and planning time explodes).
  *
  * Size gate: an edge list of at most `maxDriverEdges` rows is collected and
  * resolved by a union-find on the driver (zero per-round jobs); a larger
  * one runs the rounds above, where the driver sees only a per-round
  * fixpoint count — never edge data.
  */
object Graph {

  /** Edges (a, b) after one large-star round: every neighbor v > u of any
    * node u is re-attached to m = min(N(u) ∪ u). Output is NOT deduplicated
    * — the following small-star round ends in a distinct anyway, and
    * skipping it here saves a shuffle per round.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
    val mins = sym.groupBy("a").agg(min("b").as("mb"))
      .select(col("a"), least(col("mb"), col("a")).as("m"))
    sym.join(mins, "a")
      .filter(col("b") > col("a"))
      .select(col("b").as("a"), col("m").as("b"))
  }

  /** Edges after one small-star round: orient each edge high→low, re-attach
    * every low neighbor (and the high node itself) to the minimum.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val oriented = e
      .select(greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
    val mins = oriented.groupBy("a").agg(min("b").as("m"))
    oriented.join(mins, "a")
      .select(col("b").as("v"), col("m"))
      .filter(col("v") =!= col("m"))
      .select(col("v").as("a"), col("m").as("b"))
      .unionByName(mins.select(col("a"), col("m").as("b")))
      .distinct()
  }

  /** Rounds the most recent [[connectedComponents]] call took to converge —
    * observability for scale runs (the O(log n) round count is the scaling
    * claim ScaleBench verifies); 0 when the call took the driver-local
    * path. Driver-side, last-call-wins; diagnostics only, never control flow.
    */
  @volatile var lastRounds: Int = -1

  /** Default edge-row cap of [[connectedComponents]]'s driver-local path. */
  val DefaultMaxDriverEdges: Int = 100000

  /** Connected components over an undirected edge list.
    *
    * @param edges  DataFrame with two node-id columns; self-loops are
    *               ignored, direction is irrelevant. Numeric ids run in
    *               long space natively. NON-numeric ids (string keys —
    *               entity resolution's bread and butter) are hash-mapped:
    *               with ANSI off, the old unconditional `cast("long")`
    *               turned every such id into NULL and silently dropped ALL
    *               edges — callers got "no clusters" instead of an error.
    * @return (id, component) for every node appearing in `edges`. For
    *         numeric ids `component` is the smallest node id in the
    *         component; for hash-mapped ids it is a deterministic member
    *         of the component (the one with the smallest xxhash64), and
    *         both columns carry the ids cast to string. Isolated nodes
    *         never appear in an edge list — union them in with
    *         `component = id` at the call site if needed.
    * @param maxDriverEdges edge-row cap for the driver-local union-find;
    *         above it the distributed rounds run instead (100k edges is a
    *         ~200k-row local result, small enough to broadcast; pass 0 to
    *         force the distributed form)
    */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 50,
      maxDriverEdges: Int = DefaultMaxDriverEdges
  ): DataFrame = {
    require(maxDriverEdges >= 0 && maxDriverEdges < Int.MaxValue,
      s"maxDriverEdges must be in [0, Int.MaxValue), got $maxDriverEdges")
    val spark: SparkSession = edges.sparkSession
    import spark.implicits._
    // long space only for INTEGRAL ids: a fractional id (double after an
    // aggregation, decimal from a CSV read) silently truncates under
    // cast("long") — 1.2 and 1.7 collide on node 1 and unrelated
    // components merge; fractional/decimal ids route through the
    // hash-mapped path with every other non-long-safe key type
    val integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)
    val numeric =
      Seq(srcCol, dstCol).forall(c => integral.contains(edges.schema(c).dataType))
    if (numeric)
      ccLongIds(
        edges.select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d")),
        maxIter, maxDriverEdges)
    else {
      // hash each id to a long (xxhash64 — collision odds ~n²/2⁶⁴,
      // negligible below ~10⁹ distinct ids), run CC in long space, then
      // map node AND component back through the id table. The mapping is
      // one row per distinct id, joined twice on its hash — both joins
      // shuffle id-sized frames, never the edge multiset.
      // drop null-endpoint edges BEFORE hashing — xxhash64(null) is the
      // seed (42L), a perfectly valid long, so without this filter every
      // null endpoint becomes one shared phantom node that merges
      // unrelated components (and, when its hash is the component
      // minimum, drops the whole component at the rep-lookup join, whose
      // mapping table rightly holds no null row); the integral path drops
      // such edges naturally, and the two paths must agree
      val strEdges = edges
        .select(col(srcCol).cast("string").as("os"), col(dstCol).cast("string").as("od"))
        .filter($"os".isNotNull && $"od".isNotNull)
      // the mapping covers every NON-NULL endpoint of the ORIGINAL edges —
      // not just fully-non-null ones: the integral path keeps the non-null
      // side of a half-null edge as a singleton node (greatest/least skip
      // nulls there), and the two paths must agree, so a node whose only
      // edges have a null partner must survive here too
      val mapping = edges
        .select(col(srcCol).cast("string").as("orig"))
        .unionByName(edges.select(col(dstCol).cast("string").as("orig")))
        .filter($"orig".isNotNull)
        .distinct()
        .select(xxhash64($"orig").as("h"), $"orig")
        .localCheckpoint(false)
      val comp =
        ccLongIds(
          strEdges.select(xxhash64($"os").as("s"), xxhash64($"od").as("d")), maxIter, maxDriverEdges)
      // left join + coalesce-to-self: ids absent from the CC body (their
      // only edges were half-null) are their own singleton component
      mapping
        .join(comp, mapping("h") === comp("id"), "left")
        .select($"orig".as("__node"), coalesce($"component", $"h").as("component"))
        .join(
          mapping.select($"h".as("component"), $"orig".as("__rep")),
          Seq("component"))
        .select($"__node".as("id"), $"__rep".as("component"))
    }
  }

  private def ccLongIds(prepared: DataFrame, maxIter: Int, maxDriverEdges: Int): DataFrame = {
    // Scan the caller's edge plan exactly ONCE: the input is often itself an
    // expensive pipeline (q62/q63 feed the full MinHash+window plan in), and
    // the size gate, the canonical edge set and the node list all read it.
    // A narrow two-long-column local checkpoint decouples everything
    // downstream from the input plan's cost.
    val raw = prepared.localCheckpoint(false)

    // Size gate: a bounded collect (cap + 1 rows) decides. At or below the
    // cap the whole edge list is on the driver and one union-find replaces
    // every distributed round — per-job latency, not data volume, is the
    // cost of the rounds on a few-thousand-edge graph.
    val local =
      if (maxDriverEdges == 0) None
      else Some(raw.limit(maxDriverEdges + 1).collect()).filter(_.length <= maxDriverEdges)
    local match {
      case Some(rows) =>
        lastRounds = 0
        // nullable exactly when the distributed path's output is: when an
        // input id column is
        val schema = StructType(
          Seq("id", "component").map(StructField(_, LongType, raw.schema.exists(_.nullable))))
        raw.sparkSession.createDataFrame(unionFind(rows).asJava, schema)
      case None => starRounds(raw, maxIter)
    }
  }

  /** The distributed form of [[ccLongIds]]: alternating large/small-star
    * rounds over the checkpointed (s, d) edge rows until star form.
    */
  private def starRounds(raw: DataFrame, maxIter: Int): DataFrame = {
    val spark: SparkSession = raw.sparkSession
    import spark.implicits._

    // Canonicalize once (high, low): every later round's edges come out of
    // smallStar already in this orientation and deduplicated, so the
    // convergence check below never needs its own canonicalization shuffle.
    var e = raw
      .select(greatest($"s", $"d").as("a"), least($"s", $"d").as("b"))
      .filter($"a" =!= $"b")
      .distinct()
      .localCheckpoint(false)

    // Fixpoint detection: the rounds are converged exactly when the edge set
    // is a disjoint union of min-hub stars — every node has out-degree ≤ 1
    // AND no hub (b side) also appears as a spoke (a side). Both rounds only
    // ever emit high→low edges, so a disjoint star's hub is its component's
    // minimum, and small/large-star preserve connectivity, so disjoint stars
    // ARE the final components. Checking the structural property directly
    // (instead of comparing against the previous round's edge set) detects
    // the fixpoint right after the last productive round — no trailing
    // "nothing changed" round. One groupBy job per round. The check MUST be
    // a full action (count, not isEmpty/take): computing every partition is
    // what materializes the round's lazy localCheckpoint — a partial action
    // would leave it pending and every later round would recompute the
    // entire lineage back to the caller's input plan.
    def isStarForm(d: DataFrame): Boolean = {
      val roles = d
        .select($"a".as("n"), lit(1L).as("sp"), lit(0L).as("hb"))
        .unionByName(d.select($"b".as("n"), lit(0L).as("sp"), lit(1L).as("hb")))
      roles
        .groupBy($"n")
        .agg(sum($"sp").as("sp"), sum($"hb").as("hb"))
        .filter($"sp" > 1L || ($"sp" > 0L && $"hb" > 0L))
        .count() == 0L
    }

    // No pre-loop check: a non-converged input needs round 1 anyway, and on
    // an already-star-form input round 1 is the identity (both rounds map
    // disjoint min-hub stars to themselves), so the first check still fires.
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      e = smallStar(largeStar(e)).localCheckpoint(false)
      converged = isStarForm(e)
      it += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    lastRounds = it

    // Post-fixpoint the edge set is a union of stars (v, min). A node can
    // still carry >1 edge transiently-shaped inputs; min() collapses them.
    val nodes = raw
      .select($"s".as("id"))
      .unionByName(raw.select($"d".as("id")))
      .filter($"id".isNotNull) // a null endpoint is no node (its edges were dropped above)
      .distinct()
    val star = e
      .select(greatest($"a", $"b").as("id"), least($"a", $"b").as("c"))
      .groupBy("id")
      .agg(min($"c").as("c"))
    nodes
      .join(star, Seq("id"), "left")
      .select($"id", coalesce($"c", $"id").as("component"))
  }

  /** Driver-local components of collected (s, d) rows: every non-null
    * endpoint is a node (a half-null edge leaves its non-null end as a
    * singleton), and path-compressing union-find links each root to the
    * smaller root, so a component's root is its smallest id — the same
    * (id, component) set the distributed rounds produce.
    */
  private def unionFind(edges: Array[Row]): Seq[Row] = {
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var n = x
      while (n != r) { val up = parent(n); parent(n) = r; n = up }
      r
    }
    for (row <- edges) {
      val ends = (0 to 1).filterNot(row.isNullAt).map(row.getLong)
      ends.foreach(v => parent.getOrElseUpdate(v, v))
      if (ends.size == 2) {
        val (ra, rb) = (find(ends(0)), find(ends(1)))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
    }
    parent.keys.toSeq.map(id => Row(id, find(id)))
  }

  /** Fixed-iteration PageRank over EXACT scaled integers — host/domain
    * authority for crawl prioritization and source weighting.
    *
    * Why integers, not doubles: float PageRank sums contributions in
    * partition order, so the result depends on the shuffle layout — two
    * runs (or an engine and its oracle) disagree in the low bits, and a
    * task retry can change the answer. Here every step is integer
    * arithmetic: rank starts at `scale` per node, an edge carries
    * `rank DIV outdeg`, and the damped update is
    * `rank' = (scale·(dampDen−dampNum)) DIV dampDen +
    * (dampNum · Σ contrib) DIV dampDen`. Long addition is associative and
    * commutative, so the result is bit-identical under ANY partitioning,
    * and a SQL oracle can replay the recurrence verbatim with unrolled
    * CTEs (q138).
    *
    * Semantics: edges are distinct (src,dst) pairs, null endpoints
    * dropped. Dangling nodes (no out-edges) receive the teleport term;
    * by DEFAULT they redistribute nothing — the mass-dropping variant,
    * standard for crawl graphs where dangling pages dominate and their
    * mass is noise — so total rank DECAYS toward N·teleport/(1−d) rather
    * than conserving N·scale; the per-node ORDERING (what crawl
    * prioritization consumes) is unaffected. `redistributeDangling = true`
    * switches to the textbook distribution: each round the dangling mass
    * D = Σ rank(dangling) is summed (one scalar to the driver per round,
    * the CC-rounds pattern) and every node's contribution gains
    * `D div N` — still exact integers, still partition-invariant, total
    * mass conserved to within the documented integer-division slack
    * (< E + 2N units of scale⁻¹ per iteration; spec-pinned).
    * Iterations are FIXED, not run to convergence: rank consumers at crawl
    * scale want a bounded-cost signal (3–5 rounds separate hubs from leaves)
    * and a deterministic output, not a fixpoint whose round count data-drifts.
    *
    * Plan shape per iteration: one equi-join of the edge+outdeg frame
    * (persisted once) against the current rank frame, one hash aggregate on
    * dst, one left join back to the node list — 3 shuffles × iterations,
    * all on graph-sized frames. A hot dst (every page links home) is ONE
    * group with partial aggregation upstream; no driver data path (the
    * optional dangling sum is one scalar). Every 10 iterations the rank
    * frame is `localCheckpoint`ed so deep runs (iterations up to 50) carry
    * a bounded lineage instead of a 150-join plan — the analyzer cost of
    * an unbounded iterative lineage grows superlinearly and is a
    * driver-side scale-killer of its own (lineage bound spec-pinned).
    * Overflow bound: nodes·scale·dampNum must stay below 2⁶³ — the default
    * 10⁹ scale holds to ~10⁸ nodes; drop `scale` a decade per decade beyond.
    *
    * @return (id, rank) — rank in units of `scale⁻¹` (a rank of 1.0 in the
    *         textbook formulation is `scale` here)
    */
  def pageRankExact(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 3,
      scale: Long = 1000000000L,
      dampNum: Int = 85,
      dampDen: Int = 100,
      redistributeDangling: Boolean = false
  ): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    require(iterations >= 1 && iterations <= 50, s"iterations must be in [1,50], got $iterations")
    require(dampNum > 0 && dampNum < dampDen, s"need 0 < dampNum < dampDen, got $dampNum/$dampDen")
    require(scale >= dampDen, s"scale must be at least dampDen for a nonzero teleport term")
    val e = edges
      .select(col(srcCol).as("__s"), col(dstCol).as("__d"))
      .filter($"__s".isNotNull && $"__d".isNotNull)
      .distinct()
    // out-degree rides with each edge so every iteration is a single
    // equi-join against ranks; persisted once and EXPLICITLY unpersisted
    // below after the final ranks checkpoint — the CacheManager holds a
    // strong reference until unpersist, so "reclaimed when the result is
    // GC'd" is not a lifecycle that exists, and a long-lived session
    // calling this per crawl round would accumulate edge-sized caches
    // without bound
    val eo = e
      .join(e.groupBy("__s").agg(count(lit(1)).as("__outdeg")), Seq("__s"))
      .persist()
    val nodes = e
      .select($"__s".as("id"))
      .unionByName(e.select($"__d".as("id")))
      .distinct()
      .persist()
    val teleport = scale * (dampDen - dampNum) / dampDen // exact: all terms positive
    // dangling set (no out-edges) and node count: computed once, only when
    // the conserving variant pays for them
    val dangling =
      if (redistributeDangling)
        nodes.join(e.select($"__s".as("id")).distinct(), Seq("id"), "left_anti").persist()
      else null
    val nNodes = if (redistributeDangling) nodes.count() else 0L
    var ranks = nodes.select($"id", lit(scale).as("rank"))
    var it = 0
    while (it < iterations) {
      // the dangling sum is an ACTION per round: checkpoint the rank frame
      // first so the scalar and the next round's join share one
      // materialization instead of re-running the whole lineage
      if (redistributeDangling && it > 0) ranks = ranks.localCheckpoint(true)
      // textbook dangling redistribution: every node receives an equal
      // share of the dangling mass — D div N is exact and identical on
      // every partition, so partition-invariance is preserved
      val share =
        if (redistributeDangling && nNodes > 0) {
          val d = ranks.join(dangling, Seq("id"), "left_semi")
            .agg(coalesce(sum($"rank"), lit(0L))).head().getLong(0)
          d / nNodes
        } else 0L
      val contrib = eo
        .join(ranks.select($"id".as("__s"), $"rank"), Seq("__s"))
        .select($"__d".as("id"), expr("rank div __outdeg").as("__c"))
        .groupBy("id")
        .agg(sum($"__c").as("__contrib"))
      ranks = nodes
        .join(contrib, Seq("id"), "left")
        .select(
          $"id",
          expr(s"${teleport}L + (${dampNum}L * (coalesce(__contrib, 0L) + ${share}L))" +
            s" div ${dampDen}L").as("rank"))
      it += 1
      // cap the lineage: a 50-iteration run would otherwise hand the
      // analyzer a ~150-join tree (the redistributing path checkpoints at
      // the top of every round already)
      if (!redistributeDangling && it % 10 == 0 && it < iterations)
        ranks = ranks.localCheckpoint(true)
    }
    // eager checkpoint decouples the result from the persisted helper
    // frames, which can then be released immediately — the one extra
    // materialization is graph-sized and callers act on the result anyway
    val out = ranks.localCheckpoint(true)
    eo.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    if (dangling != null) dangling.unpersist(blocking = false)
    out
  }
}
