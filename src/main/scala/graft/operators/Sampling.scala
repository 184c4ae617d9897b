package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines.
  *
  * `df.sample(fraction)` is NOT reproducible at scale: the draw depends on
  * partition layout, so re-reading the same lake after a compaction (or on a
  * cluster with different parallelism) yields a different sample. Every
  * sampler here instead hashes a stable row key, so the same row is in or
  * out of the sample forever — across runs, engines and repartitionings —
  * which is what a training corpus needs (held-out splits must not leak
  * between pipeline re-runs).
  *
  * The hash is the repo's portable 60-bit md5 prefix, so an external system
  * (or the DuckDB oracle) can reproduce the exact membership decision.
  */
object Sampling {

  /** Portable 60-bit hash of a key — same value as DuckDB's
    * `('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15))::BIGINT`.
    */
  def hash60(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 15), 16, 10).cast("long")

  /** Deterministic Bernoulli sample: keeps rows whose key hashes into the
    * accept band (`numerator/denominator` of the hash space). A pure map —
    * no shuffle, filter runs pre-shuffle at the scan, and the expected
    * sample is uniform under md5's mixing. Use disjoint bands (e.g. `% 100
    * < 5` vs `>= 95`) to carve non-overlapping train/validation splits.
    */
  def bernoulli(df: DataFrame, key: Column, numerator: Int, denominator: Int): DataFrame = {
    require(denominator > 0 && numerator >= 0 && numerator <= denominator, "need 0 <= num <= den")
    df.filter(hash60(key) % denominator < numerator)
  }

  /** Deterministic weighted Bernoulli sample: row kept with probability
    * `weight` (a per-row column in [0,1]) — e.g. a quality score, so
    * higher-quality documents are over-represented in the training mix.
    * Membership compares the key hash band against the weight, so it is
    * exactly as reproducible as [[bernoulli]]: same row, same decision, on
    * any cluster and any engine. Pure map, no shuffle.
    *
    * Resolution is 1/2^20 (~1e-6) — the comparison uses a 20-bit hash band
    * so the weight→threshold arithmetic stays exact in both engines.
    */
  def weighted(df: DataFrame, key: Column, weight: Column): DataFrame =
    df.filter((hash60(key) % (1L << 20)).cast("double") < weight * (1L << 20))

  /** Deterministic per-group mixture sampling: each row's keep-rate comes
    * from its group's entry in `rates` (numerator out of `denominator`);
    * groups absent from `rates` are dropped. THE training-mixture
    * operation: "20% of web, 100% of books, 5% of logs" as one scan —
    * membership is key-hashed (stable across reruns/engines), the rate
    * lookup is a literal CASE (no join), and the filter runs scan-side.
    */
  def mixture(
      df: DataFrame,
      group: Column,
      key: Column,
      rates: Map[String, Int],
      denominator: Int
  ): DataFrame = {
    require(denominator > 0 && rates.values.forall(n => n >= 0 && n <= denominator), "bad rates")
    // string-vs-string compare (the withGroupBudget rule): a bare
    // `group === "07"` against an int column coerces the LITERAL to 7 —
    // membership would silently differ from tokenBudgetMixture's
    // string-keyed lookup for the same rates map
    val rate = rates.foldLeft(lit(-1)) { case (acc, (g, n)) =>
      when(group.cast("string") === lit(g), lit(n)).otherwise(acc)
    }
    df.filter(hash60(key) % denominator < rate)
  }

  /** Deterministic stratified fixed-size sample: exactly `n` rows per
    * stratum (fewer if the stratum is smaller), chosen by smallest key hash
    * — a uniform draw without replacement — tie-broken by the key itself.
    *
    * One hash shuffle on the strata columns. The `rn <= n` filter plans as
    * a `WindowGroupLimit`: the PARTIAL group-limit below the exchange
    * forwards at most n rows per stratum per map task, so even a corpus-
    * sized stratum ships ≤ n × mapTasks rows to its window task — the
    * skewed-stratum hazard is bounded by the sample size, not the stratum
    * size. For n large enough that n × mapTasks itself hurts, pre-thin
    * with [[bernoulli]] at a few × n/|stratum| first (membership stays
    * deterministic — the pre-filter only removes rows the top-n would
    * never pick, provided the band keeps ≥ n survivors).
    */
  def stratified(df: DataFrame, strata: Seq[Column], key: Column, n: Int): DataFrame = {
    require(n > 0, "n must be positive")
    require(!df.columns.contains("__rn"),
      "stratified writes helper column __rn; the input already has one — rename it first")
    val w = Window.partitionBy(strata: _*).orderBy(hash60(key).asc, key.asc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= n).drop("__rn")
  }

  /** Deterministic global shuffle + sharding for training-order
    * reproducibility: every row gets a (shard, pos) assignment — shard by
    * key-hash modulus, position by ascending hash within the shard — so the
    * exact same training order falls out on any cluster, any partition
    * layout, any engine, and any rerun. THE "shuffle the corpus before
    * training" step, without a nondeterministic `rand()` in sight.
    *
    * One hash shuffle on `shard`, then an in-partition sort: Spark's
    * row_number window sorts each shard inside its own task — there is no
    * global sort barrier. Size `numShards` so one shard's keys fit a task
    * (at 100 TB: thousands of shards), which is also exactly the file
    * granularity a training loader wants to range-read. Write with
    * `.write.partitionBy("shard")` and the layout matches the assignment.
    */
  def shard(df: DataFrame, key: Column, numShards: Int): DataFrame = {
    require(numShards > 0, "numShards must be positive")
    Seq("shard", "pos").foreach(c => require(!df.columns.contains(c),
      s"shard writes output column $c; the input already has one — rename it first"))
    val h = hash60(key)
    val w = Window.partitionBy(pmod(h, lit(numShards))).orderBy(h.asc, key.asc)
    df.withColumn("shard", pmod(h, lit(numShards)).cast("int"))
      .withColumn("pos", row_number().over(w).cast("long"))
  }

  /** Sequence packing: assign every document a (shard, bin) so that
    * concatenating each bin's documents in shard order yields ~`maxTokens`
    * training sequences — the packing step between "clean corpus" and
    * "batches the trainer reads". A document lands in the bin its FIRST
    * token falls into under continuous concatenation (documents are not
    * split; the standard boundary-respecting greedy packing).
    *
    * Deterministic like [[shard]]: order within a shard is the portable key
    * hash, the prefix sum is an exact BIGINT window over that total order,
    * and `bin = (prefix - n) DIV maxTokens` is integer arithmetic — the
    * same packing falls out on any cluster, rerun, or engine. One hash
    * shuffle on `shard`; the prefix sum runs inside each shard's task (no
    * global sort), so `numShards` is sized exactly like shard()'s.
    */
  def packSequences(
      df: DataFrame,
      key: Column,
      tokens: Column,
      numShards: Int,
      maxTokens: Long
  ): DataFrame = {
    require(numShards > 0 && maxTokens > 0, "need positive numShards and maxTokens")
    Seq("shard", "n_tokens", "bin", "__cum").foreach(c => require(!df.columns.contains(c),
      s"packSequences writes column $c; the input already has one — rename it first"))
    val h = hash60(key)
    val shardCol = pmod(h, lit(numShards)).cast("int")
    val w = Window
      .partitionBy(shardCol)
      .orderBy(h.asc, key.asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("shard", shardCol)
      .withColumn("n_tokens", tokens.cast("long"))
      .withColumn("__cum", sum(col("n_tokens")).over(w))
      .withColumn("bin", expr(s"(__cum - n_tokens) DIV ${maxTokens}L"))
      .drop("__cum")
  }

  /** Similarity-ordered sequence packing — the in-context-pretraining
    * layout (Shi et al. 2024, "In-Context Pretraining: Language Modeling
    * Beyond Document Boundaries"): place RELATED documents adjacently so
    * a packed training sequence carries coherent context across document
    * boundaries, instead of the random neighbors plain hash-order packing
    * gives.
    *
    * Formulation — declarative, not a greedy walk: `pairs` are the
    * verified ANN neighbor pairs (e.g. [[Dedup.embedNearDupPairs]] at a
    * relatedness threshold, or a [[VectorIndex]] probe's verified top-k);
    * their connected components ([[Graph.connectedComponents]] — the q62
    * machinery) define relatedness clusters, and the packing order makes
    * every cluster CONTIGUOUS: shard by the CLUSTER representative's hash
    * (a cluster never splits across shards — the [[leakageFreeSplit]]
    * move), order within a shard by (cluster-hash, cluster, doc-hash,
    * doc), then assign bins with the exact BIGINT prefix sum of
    * [[packSequences]]. A greedy nearest-neighbor chain (the paper's
    * traversal) orders members WITHIN a cluster marginally better, but is
    * sequential state the cluster-contiguous form does not need: every
    * stage here is a groupBy/join/window Catalyst already optimizes, the
    * result is bit-deterministic on any partitioning, and the ordering
    * law ("ANN neighbors share a context window") holds at the cluster
    * level — which is the property the training objective consumes.
    *
    * Scale shape: CC over the pair list (pairs ≪ corpus) is a driver-side
    * union-find up to its `maxDriverEdges` cap and O(log n) bounded rounds
    * above it, then one broadcast-ish join of the cluster map onto the
    * corpus, one hash shuffle on `shard`, windows inside each shard's
    * task. Docs untouched by any pair are their own singleton cluster.
    *
    * @return df's rows plus (comp, shard, pos, n_tokens, bin)
    */
  def similarityOrderedPack(
      df: DataFrame,
      idCol: String,
      tokens: Column,
      pairs: DataFrame, // (doc_a, doc_b) verified neighbor pairs
      numShards: Int,
      maxTokens: Long
  ): DataFrame = {
    require(numShards > 0 && maxTokens > 0, "need positive numShards and maxTokens")
    Seq("comp", "shard", "pos", "n_tokens", "bin", "__cum", "__cid", "__comp").foreach(c =>
      require(!df.columns.contains(c),
        s"similarityOrderedPack writes column $c; the input already has one — rename it first"))
    val comps = Graph
      .connectedComponents(pairs, "doc_a", "doc_b")
      .select(col("id").as("__cid"), col("component").as("__comp"))
    val withComp = df
      .join(comps, col(idCol) === col("__cid"), "left")
      .withColumn("comp", coalesce(col("__comp"), col(idCol)))
      .drop("__cid", "__comp")
    val hc = hash60(col("comp"))
    val h = hash60(col(idCol))
    val shardCol = pmod(hc, lit(numShards)).cast("int")
    val order = Seq(hc.asc, col("comp").asc, h.asc, col(idCol).asc)
    val wRank = Window.partitionBy(shardCol).orderBy(order: _*)
    val wCum = Window
      .partitionBy(shardCol)
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withComp
      .withColumn("shard", shardCol)
      // 1-based like shard()'s pos — ONE contract for the output column
      // across the packing family (a 0-based variant here was an
      // off-by-one trap for loaders written against shard())
      .withColumn("pos", row_number().over(wRank).cast("long"))
      .withColumn("n_tokens", tokens.cast("long"))
      .withColumn("__cum", sum(col("n_tokens")).over(wCum))
      .withColumn("bin", expr(s"(__cum - n_tokens) DIV ${maxTokens}L"))
      .drop("__cum")
  }

  /** Deterministic TOKEN-budget mixture: keep, per group, a deterministic
    * pseudo-random selection of rows whose token counts fill that group's
    * budget — how training mixtures are actually specified ("20B tokens of
    * web, 5B of code"), vs [[mixture]]'s row-rate form. A row is kept iff
    * its prefix sum STARTS before the budget boundary (the first
    * overshooting row is kept — [[packSequences]]' boundary convention),
    * so each group's kept tokens land in [budget, budget + maxDoc).
    * Groups absent from `budgets` are dropped.
    *
    * Scale shape — the naive formulation (one window per group ordered by
    * the row hash) is a TRAP at 100 TB: a window partitioned by `group`
    * sorts each group's entire slice in ONE task (a group is a mixture
    * source — terabytes). This runs the two-phase distributed prefix sum
    * instead: (1) per-(group, shard) token totals — |groups|·numShards
    * rows; (2) shard offsets via a window over that TINY table; (3) the
    * exact prefix only within each (group, shard) partition, S-way
    * parallel per group. The global order is shard-major (shard, hash,
    * key, tokens): deterministic for a GIVEN numShards — size it like
    * [[shard]]'s, so one shard's slice fits a task.
    *
    * Determinism contract: with a UNIQUE `key` per row the kept set is
    * exactly reproducible. With duplicate keys, the order ends on the
    * token count as a final tiebreaker, so the kept MULTISET of
    * (key, tokens) is still deterministic — but rows fully tied on
    * (key, tokens) are interchangeable at the budget boundary, and which
    * physical duplicate lands inside is partitioning-dependent. Feed a
    * unique key (the house style: a doc_id or content hash) when byte
    * reproducibility matters.
    *
    * `defaultBudget` extends the mixture to the CAP use case ("at most N
    * tokens from ANY one domain"): groups absent from `budgets` get this
    * budget instead of being dropped — including the NULL group (rows
    * whose group expression is null, e.g. an unregistrable host, are
    * capped together as one bucket rather than silently kept or dropped).
    *
    * @return df's rows that fill the budgets, original columns unchanged
    */
  def tokenBudgetMixture(
      df: DataFrame,
      group: Column,
      key: Column,
      tokens: Column,
      budgets: Map[String, Long],
      numShards: Int = 64,
      defaultBudget: Option[Long] = None
  ): DataFrame = {
    require(budgets.nonEmpty || defaultBudget.isDefined,
      "need budgets, a defaultBudget, or both")
    require(budgets.values.forall(_ >= 0) && defaultBudget.forall(_ >= 0),
      "budgets must be non-negative")
    require(numShards > 0, "numShards must be positive")
    val base = withGroupBudget(df, group, budgets, defaultBudget)
      .withColumn("__h", hash60(key))
      .withColumn("__key", key)
      .withColumn("__shard", pmod(col("__h"), lit(numShards)).cast("int"))
      .withColumn("__tok", tokens.cast("long"))
      .filter(col("__budget") >= 0)
    prefixSelect(base)
  }

  /** Size above which the budget map compiles to a broadcast JOIN instead
    * of a `when` chain. A literal CASE is the right plan for a mixture
    * config (tens of sources: zero join, constant-folds into the scan),
    * but its expression depth is ∝ |map| — a few thousand entries blows
    * past codegen/Janino limits. Package-visible so the spec can pin the
    * equivalence law right at the boundary.
    */
  private[graft] val budgetMapJoinThreshold = 64

  /** Attaches `__g` (the group key) and `__budget` (the group's budget,
    * `-1` for "not in the mixture") to `df`. Two compilation strategies
    * with identical semantics (spec-pinned equivalence law):
    *
    *   - `|budgets| <= budgetMapJoinThreshold`: a folded `when` chain —
    *     scan-side literal CASE, no join at all.
    *   - above it: a broadcast LEFT join against a literal (group, budget)
    *     frame, `coalesce`-ing misses to the default.
    *
    * BOTH strategies compare the group CAST TO STRING against the string
    * key — budgets are string-keyed by contract. The explicit cast in the
    * `when` chain is load-bearing: a bare `===` against a string literal
    * would let Spark coerce the LITERAL to the group's numeric type
    * (`intCol === "07"` matching 7), so which rows matched would flip when
    * the map size crosses the threshold and the join form (string = string,
    * "7" != "07") kicks in. Casting both paths to string keeps the
    * equivalence law exact for every group type.
    *
    * NULL groups never match a (non-null) map key under either strategy —
    * `===` is null-rejecting in the chain and in the join — so they take
    * `defaultBudget`, the documented one-bucket NULL-group behavior.
    */
  private def withGroupBudget(
      df: DataFrame,
      group: Column,
      budgets: Map[String, Long],
      defaultBudget: Option[Long]
  ): DataFrame = {
    val fallback = defaultBudget.map(lit).getOrElse(lit(-1L))
    val g = df.withColumn("__g", group)
    if (budgets.size <= budgetMapJoinThreshold) {
      val budget = budgets.foldLeft(fallback: Column) { case (acc, (k, b)) =>
        when(col("__g").cast("string") === lit(k), lit(b)).otherwise(acc)
      }
      g.withColumn("__budget", budget)
    } else {
      val spark = df.sparkSession
      import spark.implicits._
      val bdf = budgets.toSeq.toDF("__bg", "__bv")
      g.join(broadcast(bdf), col("__g").cast("string") === col("__bg"), "left")
        .withColumn("__budget", coalesce(col("__bv"), fallback))
        .drop("__bg", "__bv")
    }
  }

  /** The two-phase budget selection over a prepared frame carrying
    * (__g, __h, __key, __shard, __tok, __budget) — shared by
    * [[tokenBudgetMixture]] and the remainder pass of
    * [[tokenBudgetMixtureWithRepeats]], so the boundary convention cannot
    * drift between them. Drops every working column.
    */
  private def prefixSelect(base: DataFrame): DataFrame = {
    val shardTotals = base.groupBy(col("__g"), col("__shard")).agg(sum(col("__tok")).as("__stok"))
    val wShard = Window.partitionBy(col("__g")).orderBy(col("__shard"))
    val offsets = shardTotals
      .withColumn("__offset", sum(col("__stok")).over(wShard) - col("__stok"))
      .select(col("__g").as("__og"), col("__shard").as("__os"), col("__offset"))
    val wIn = Window
      .partitionBy(col("__g"), col("__shard"))
      .orderBy(col("__h").asc, col("__key").asc, col("__tok").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      // <=> not === on BOTH keys: the NULL group is a real bucket here
      // (defaultBudget documents it's "capped together as one bucket"),
      // and a NULL shard (a null sort key hashes to null) is a real
      // shard — the offsets window already counted its tokens (null
      // sorts first in the prefix sum), so a null-unsafe join here would
      // both drop those rows AND leave their tokens stealing budget from
      // every surviving shard's offset.
      .join(broadcast(offsets), col("__g") <=> col("__og") && col("__shard") <=> col("__os"))
      .withColumn("__cum", sum(col("__tok")).over(wIn) + col("__offset"))
      .filter(col("__cum") - col("__tok") < col("__budget"))
      .drop("__g", "__h", "__key", "__shard", "__tok", "__budget", "__og", "__os", "__offset", "__cum")
  }

  /** Token-budget mixture WITH UPSAMPLING — the missing half of
    * [[tokenBudgetMixture]] for real training mixtures, which routinely
    * REPEAT small high-quality sources ("Wikipedia × 5") rather than only
    * down-select: a group whose budget exceeds its natural token total
    * contributes FULL EPOCHS (every doc, `epoch` = 0..k-1) plus a
    * deterministic prefix of the next epoch filling the remainder —
    * epochs = budget DIV total, remainder = budget MOD total, both exact
    * integer arithmetic, with the remainder pass running the SAME
    * two-phase prefix selection (and boundary convention) as the plain
    * mixture. A group under its budget degenerates to epochs = 0 +
    * the plain selection of everything; a group with budget below one
    * epoch yields pure down-selection — so this operator strictly
    * generalizes [[tokenBudgetMixture]] (the epoch-0 rows of any group
    * whose budget ≤ total are EXACTLY the plain mixture's selection).
    *
    * Zero-token groups (all docs count 0): epochs pinned to 0 and the
    * whole budget flows to the remainder pass — mirroring the plain
    * mixture, which keeps every zero-token doc once (0 < budget), never
    * infinitely.
    *
    * `maxEpochs` is a GUARD, not a tuning knob: the epoch fan-out
    * materializes `epochs` copies of every row, so a misconfigured budget
    * over a tiny source (say 10^12 tokens against a 10^3-token source)
    * would demand 10^9-element `sequence` arrays per row — Spark hard-fails
    * past 2^31 elements and OOMs long before, and even a "successful" huge
    * ratio silently writes an enormous upsampled corpus. Real mixtures
    * repeat small sources single-digit times (quality gains fall off
    * sharply past ~4 epochs — Muennighoff et al. 2023, "Scaling
    * Data-Constrained Language Models"), so any group whose
    * `budget DIV total` exceeds `maxEpochs` is treated as a config error
    * and FAILS LOUDLY, naming the group and the ratio. The check runs on
    * the per-group totals (|groups| rows, mixture-config scale) BEFORE any
    * explode is planned.
    *
    * Scale shape: one tiny per-group total aggregate (collected — the same
    * driver hop `broadcast()` would take — validated, then broadcast
    * back), the epoch fan-out is a scan-side `explode(sequence)` (output ∝
    * the UPSAMPLED corpus — the honest cost of repeats), and the remainder
    * pass is the plain machinery.
    *
    * @return df's rows (original columns) + `epoch` (0-based)
    */
  def tokenBudgetMixtureWithRepeats(
      df: DataFrame,
      group: Column,
      key: Column,
      tokens: Column,
      budgets: Map[String, Long],
      numShards: Int = 64,
      defaultBudget: Option[Long] = None,
      maxEpochs: Int = 100
  ): DataFrame = {
    require(budgets.nonEmpty || defaultBudget.isDefined,
      "need budgets, a defaultBudget, or both")
    require(budgets.values.forall(_ >= 0) && defaultBudget.forall(_ >= 0),
      "budgets must be non-negative")
    require(numShards > 0, "numShards must be positive")
    require(maxEpochs >= 1, "maxEpochs must be >= 1")
    require(!df.columns.contains("epoch"),
      "input already has an 'epoch' column — rename it before upsampling")
    val base = withGroupBudget(df, group, budgets, defaultBudget)
      .withColumn("__h", hash60(key))
      .withColumn("__key", key)
      .withColumn("__shard", pmod(col("__h"), lit(numShards)).cast("int"))
      .withColumn("__tok", tokens.cast("long"))
      .filter(col("__budget") >= 0)
    // Per-group totals: |groups| rows (mixture-config scale). __budget is
    // functionally determined by __g, so first() is exact. Collected
    // explicitly — broadcast() pulls the frame to the driver anyway — so
    // the maxEpochs guard can fire BEFORE the main query plans any explode.
    val totalsFrame = base.groupBy(col("__g"))
      .agg(sum(col("__tok")).as("__gt"), first(col("__budget")).as("__b"))
    val totalsRows = totalsFrame.collect()
    totalsRows.foreach { r =>
      val gt = if (r.isNullAt(1)) 0L else r.getLong(1)
      val b = r.getLong(2)
      val epochs = if (gt > 0) b / gt else 0L
      require(epochs <= maxEpochs,
        s"tokenBudgetMixtureWithRepeats: group '${r.get(0)}' would repeat $epochs times " +
          s"(budget=$b over $gt tokens), exceeding maxEpochs=$maxEpochs — almost certainly a " +
          "misconfigured budget; raise maxEpochs explicitly if the upsampling is intended")
    }
    val spark = df.sparkSession
    val totals = spark.createDataFrame(
      java.util.Arrays.asList(totalsRows.map(r => org.apache.spark.sql.Row(r.get(0), r.get(1))): _*),
      org.apache.spark.sql.types.StructType(Seq(
        totalsFrame.schema("__g").copy(name = "__tg"), totalsFrame.schema("__gt"))))
    val withT = base
      // <=> for the same reason as prefixSelect's offsets join: the NULL
      // group (under defaultBudget) must reach the epoch/remainder math,
      // or this operator would not strictly generalize tokenBudgetMixture.
      .join(broadcast(totals), col("__g") <=> col("__tg"))
      .withColumn(
        "__epochs",
        when(col("__gt") > 0, expr("__budget DIV __gt")).otherwise(lit(0L)))
      .withColumn(
        "__rem",
        when(col("__gt") > 0, col("__budget") % col("__gt")).otherwise(col("__budget")))
    val fullEpochs = withT
      .withColumn(
        "epoch",
        explode(
          when(col("__epochs") >= 1, sequence(lit(0L), col("__epochs") - 1))
            .otherwise(expr("CAST(array() AS array<bigint>)"))))
      .drop("__g", "__h", "__key", "__shard", "__tok", "__budget", "__tg", "__gt", "__epochs", "__rem")
    val remainder = prefixSelect(
      withT
        .withColumn("epoch", col("__epochs"))
        .withColumn("__budget", col("__rem"))
        .drop("__tg", "__gt", "__epochs", "__rem"))
    fullEpochs.unionByName(remainder)
  }

  /** Temperature-sampled per-source token budgets — the multilingual /
    * multi-source rebalancing rule (Conneau & Lample 2019; mT5's α-scaled
    * source sampling): source s gets budget ∝ c_s^α of `totalTokens`,
    * flattening the head sources and lifting the tail relative to natural
    * proportions. α is FIXED at 1/2 here, deliberately: IEEE 754 requires
    * sqrt() correctly rounded, so `sqrt(count)` is bit-identical on the
    * JVM, DuckDB, or any compliant engine — while pow(x, α) carries no
    * such guarantee and would make the budgets engine-dependent. The
    * weight is floor(sqrt(c_s) · 2^26) (scaling by a power of two is
    * exact, so the floor is too), and the budget split is exact integer
    * arithmetic: b_s = totalTokens · w_s DIV Σw — fully replayable by the
    * oracle from the corpus alone, the exactness-by-construction rule.
    *
    * Driver-side by design: the per-source totals are |sources| rows (a
    * mixture config, not data scale). Feed the result to
    * [[tokenBudgetMixture]]. NULL groups are rejected loudly (a mixture
    * over an unnamed source is a config error, not a sampling decision).
    */
  def temperatureBudgets(
      df: DataFrame,
      group: Column,
      tokens: Column,
      totalTokens: Long
  ): Map[String, Long] = {
    require(totalTokens >= 0, "totalTokens must be >= 0")
    val totals = df
      .select(group.cast("string").as("g"), tokens.cast("long").as("t"))
      .groupBy(col("g"))
      .agg(sum(col("t")).as("ct"))
      .collect()
    require(totals.forall(!_.isNullAt(0)), "temperatureBudgets: NULL group value")
    val w = totals.map { r =>
      val ct = if (r.isNullAt(1)) 0L else r.getLong(1)
      require(ct >= 0 && ct < (1L << 52), s"source ${r.getString(0)}: token total $ct out of " +
        "exact-double range")
      r.getString(0) -> math.floor(math.sqrt(ct.toDouble) * (1L << 26)).toLong
    }.toMap
    val sw = w.values.foldLeft(BigInt(0))(_ + _)
    if (sw == 0) w.map { case (g, _) => g -> 0L }
    else w.map { case (g, wi) => g -> (BigInt(totalTokens) * wi / sw).toLong }
  }

  /** Leakage-free train/val/test assignment: every member of a duplicate
    * GROUP lands in the same split, because the membership hash is taken
    * over the group's representative (min id per `groupKey`), not the row
    * itself. Splitting row-wise in the presence of duplicates leaks — a
    * copy of a training document scores as "held-out" while being verbatim
    * in train (the q90 split-leakage failure mode, prevented here by
    * construction for exact dups; feed a near-dup cluster id as `groupKey`
    * to extend the guarantee to near-dups).
    *
    * `splits` are cumulative-band (name, numerator) pairs over
    * `denominator`, evaluated in order — e.g. (train,90),(val,5),(test,5)
    * of 100. Bands partition the hash space, so splits are disjoint and
    * exhaustive; membership is the same portable md5-prefix hash as
    * [[bernoulli]], reproducible on any engine.
    *
    * Scale shape: the representative is a map-side-combinable min
    * AGGREGATE on `groupKey` joined back to the rows — a duplicate group
    * with 10^8 members collapses to one row per map task in the partials
    * and the join-back is AQE-skew-splittable, where a min window over the
    * group key would buffer the whole hot group in one un-splittable task.
    * The band decision itself is a pure map. No driver state.
    *
    * The output claims the column names `rep` and `split`; an input
    * already carrying either would be silently clobbered, so it is
    * rejected up front — rename before calling.
    *
    * @return df's rows plus (rep, split)
    */
  def leakageFreeSplit(
      df: DataFrame,
      idCol: String,
      groupKey: Column,
      splits: Seq[(String, Int)],
      denominator: Int
  ): DataFrame = {
    require(splits.nonEmpty && denominator > 0, "need splits and a positive denominator")
    require(splits.map(_._2).sum == denominator, "split bands must sum to the denominator")
    // sum-only validation admits a NEGATIVE band (e.g. train=110/val=-10
    // still sums to 100), whose cumulative bounds silently assign every
    // row to the preceding split and leave the negative one empty
    require(splits.forall(_._2 > 0), "every split band must be positive")
    require(
      !df.columns.contains("rep") && !df.columns.contains("split"),
      "leakageFreeSplit writes output columns 'rep' and 'split'; the input already has one " +
        "of them — rename it before calling")
    require(!df.columns.contains("__gk") && !df.columns.contains("__gk2"),
      "leakageFreeSplit uses '__gk'/'__gk2' internally — rename that input column")
    val keyed = df.withColumn("__gk", groupKey)
    // null-safe join: a NULL group key is one group, same as the window
    // partition semantics it replaces
    val reps = keyed.groupBy(col("__gk")).agg(min(col(idCol)).as("rep"))
      .select(col("__gk").as("__gk2"), col("rep"))
    val h = hash60(col("rep")) % denominator
    // first band whose cumulative upper bound exceeds the hash wins
    val cums = splits.scanLeft(0)(_ + _._2).tail
    val split = splits
      .zip(cums)
      .foldRight(lit(null).cast("string")) { case (((name, _), hi), acc) =>
        when(h < hi, lit(name)).otherwise(acc)
      }
    keyed
      .join(reps, col("__gk") <=> col("__gk2"))
      .drop("__gk", "__gk2")
      .withColumn("split", split)
  }

  /** Hashed n-gram importance resampling (DSIR-shaped, Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"): score
    * every document by how target-like its hashed bigram features are, then
    * draw a deterministic sample of the raw pool with acceptance probability
    * proportional to that score — the standard trick for tilting a huge raw
    * crawl toward a small curated target domain without training a model.
    *
    * Exact-arithmetic variant (house determinism rule): instead of the
    * paper's floating log-likelihood ratio, the score is the target-mass
    * fraction of the document's feature occurrences in exact integer
    * permille — `1000 · Σ ct[b(g)] DIV Σ (ct[b(g)] + cr[b(g)])` over the
    * doc's bigram occurrences `g`, where `ct`/`cr` are corpus-wide bucket
    * counts from the target / raw slices. A monotone proxy, not the same
    * ordering as the log-ratio in general, but bit-reproducible on any
    * cluster AND replayable by an external SQL engine — which the float
    * form (combine-order-dependent log sums) never is. The acceptance coin
    * is the portable [[hash60]] band test, so membership is stable across
    * runs and engines like every sampler here.
    *
    * Scale shape: bigrams explode scan-side; the bucket-stats aggregate's
    * output is AT MOST `numBuckets` rows by construction — a knob, not
    * data — so the stats join back to the feature stream is a STATIC
    * broadcast (the one place a fixed hint is justified: the table cannot
    * outgrow it, unlike the robots table whose size tracks the crawl); the
    * only corpus-scale shuffle is the per-doc partial-aggregating sum.
    * Feature hashing exists precisely to make the model side O(buckets)
    * instead of O(vocabulary) — at 100 TB the vocabulary is billions of
    * bigrams, the bucket table is still `numBuckets` longs.
    *
    * @param isTarget  per-row predicate marking the curated target slice
    * @return one row per doc: id, is_target, num, den, score_permille, keep
    *         (keep is always false for target rows — resampling draws from
    *         the raw pool only)
    */
  def hashedImportanceResample(
      df: DataFrame,
      idCol: String,
      textCol: String,
      isTarget: Column,
      numBuckets: Int = 4096
  ): DataFrame = {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    // lazy localCheckpoint, not persist: the frame feeds BOTH the
    // bucket-stats aggregate and the scoring join probe — without sharing,
    // the bigram explode + md5 hashing (the expensive stage) runs twice
    // per action. A persist() here registers in the CacheManager, which
    // holds a strong reference until explicit unpersist — a leak at
    // exploded-bigram scale for an operator with no post-action hook to
    // release it. localCheckpoint's RDD-level storage is reclaimed by the
    // ContextCleaner once the caller drops the result plan (the Graph CC
    // lifecycle), at the documented cost that a task failure retries the
    // job instead of recomputing lineage.
    val feats = df
      .select(col(idCol).as("__id"), isTarget.as("__tgt"),
        explode(graft.functions.HashExprs.wordNGrams(col(textCol), 2)).as("__g"))
      .select(col("__id"), col("__tgt"), (hash60(col("__g")) % numBuckets).as("__b"))
      .localCheckpoint(false)
    val stats = feats
      .groupBy(col("__b"))
      .agg(
        sum(when(col("__tgt"), 1L).otherwise(0L)).as("__ct"),
        sum(when(col("__tgt"), 0L).otherwise(1L)).as("__cr"))
    val scored = feats
      .join(broadcast(stats), Seq("__b"))
      .groupBy(col("__id"))
      .agg(
        sum(col("__ct")).as("num"),
        sum(col("__ct") + col("__cr")).as("den"))
      // integral division in DECIMAL space: num/den are CORPUS-scale
      // occurrence sums (the scaladoc's own 100 TB envelope reaches
      // ~1e16), so `1000 * num` in Long silently wraps negative under
      // ANSI-off and every long high-signal doc drops from the resample;
      // decimal(38,0) holds the product exactly and `div` stays the exact
      // floor the oracle replays in HUGEINT
      .withColumn("score_permille",
        expr("(CAST(num AS DECIMAL(38,0)) * 1000) div den"))
    df.select(col(idCol).as("__id"), isTarget.as("is_target"))
      .join(scored, Seq("__id"), "left")
      .withColumn("num", coalesce(col("num"), lit(0L)))
      .withColumn("den", coalesce(col("den"), lit(0L)))
      .withColumn("score_permille", coalesce(col("score_permille"), lit(0L)))
      .withColumn("keep",
        !col("is_target") &&
          hash60(concat(lit("isr:"), col("__id").cast("string"))) % 1000 <
          col("score_permille"))
      .withColumnRenamed("__id", idCol)
  }
}
