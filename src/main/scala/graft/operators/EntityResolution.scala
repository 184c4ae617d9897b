package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Entity resolution: find records that are the SAME real-world thing under
  * noisy string keys (owner names, addresses, vendor strings) — the record-
  * linkage sibling of document near-dedup, and the step a scraped-entity
  * lake needs before any cross-source join.
  *
  * Classic blocking + verify shape:
  *  - BLOCK: records join only within a cheap equivalence class (here a
  *    string prefix; swap in phonetic keys or q25's MinHash buckets for
  *    harder data). This is what keeps the candidate set sub-quadratic —
  *    the same role PPJoin prefixes and LSH bands play for documents.
  *  - VERIFY: exact edit distance on the candidate pairs only, via the
  *    codegen `levenshtein` builtin (integer DP — bit-identical in every
  *    engine, so verdicts are portable).
  *
  * At 100 TB: the block join is an equi-shuffle on the block key; block-size
  * skew (e.g. "SMITH") is the hot-key risk. `maxBlockSize` implements the
  * standard ER mitigation — ITERATIVE PREFIX REFINEMENT: rows in a block
  * over the cap re-block on a longer prefix, repeated until every block
  * fits (or its members' keys are exhausted — a block of identical strings
  * cannot split, and its quadratic pairs are genuine output, not waste).
  * Recall after refinement is the blocking contract made finer: a pair is
  * visible iff it still shares its (now longer) block prefix — principled,
  * unlike hash-splitting a hot block, which scatters similar strings
  * randomly and loses recall silently. Pairs whose strings differ inside
  * the block key are invisible by design; choose keys accordingly (prefix
  * for tail-noise, phonetic for spelling noise).
  */
object EntityResolution {

  /** Candidate pairs (id_a, id_b, dist) with id_a < id_b, blocked on the
    * first `blockLen` characters of `strCol`, kept when
    * levenshtein ≤ `maxDist`. `maxBlockSize` caps block occupancy via
    * prefix refinement (`refineStep` extra chars per round, up to
    * `maxRefine` rounds) — the default leaves blocking single-round and
    * unrefined.
    */
  def blockedEditDistancePairs(
      df: DataFrame,
      idCol: String,
      strCol: String,
      blockLen: Int,
      maxDist: Int,
      maxBlockSize: Int = Int.MaxValue,
      refineStep: Int = 2,
      maxRefine: Int = 8
  ): DataFrame = {
    require(blockLen > 0 && maxDist >= 0, "need positive blockLen and maxDist >= 0")
    require(maxBlockSize > 0 && refineStep > 0, "need positive maxBlockSize/refineStep")
    var cur = df
      .select(col(idCol).as("__id"), col(strCol).as("__s"))
      .withColumn("__len", lit(blockLen))
      .withColumn("__blk", substring(col("__s"), 1, blockLen))
    if (maxBlockSize != Int.MaxValue) {
      // each round: members of over-cap blocks whose key can still grow
      // re-block on a refineStep-longer prefix. Round count is bounded and
      // small (maxRefine); each round is one block-stats aggregate + join
      // over the rows — the same per-round cost shape as the CC fixpoint
      // loop.
      // Persist each round's frame: the per-round isEmpty is an ACTION, and
      // without materialization it would recompute every prior round's
      // aggregate+join (O(rounds²) passes), and the final self-join would
      // re-run the whole stacked chain twice more. With persist, each
      // round's pass over the data executes exactly once.
      var prev: Option[DataFrame] = None
      var round = 0
      var anyHot = true
      while (round < maxRefine && anyHot) {
        // persist the sized frame, then materialize it COMPLETELY with a
        // count — isEmpty would stop at the first non-empty partition and
        // cache only what its take(1) touched, so unpersisting the previous
        // round below would force the uncached remainder to recompute the
        // whole stacked chain (the O(rounds²) re-execution this
        // cache exists to prevent). With the full count, neither the next
        // round's pass nor the final self-join re-executes prior rounds.
        // The last round's cache stays resident until Spark evicts it (the
        // returned plan still reads it lazily) — bounded at one round's
        // rows, same order as the input.
        // a block grows only as far as its SHORTEST member: refinement at
        // per-row lengths would put "SMIT" (len 4) and "SMITH" (len 5) of
        // the same hot block into different refined keys — the exact-equality
        // candidate join then silently loses their within-maxDist pair. With
        // the min-length clamp every member of a hot block re-blocks at the
        // SAME length, so refinement never splits a pair by length (prefix
        // CONTENT divergence still splits, which is the documented blocking
        // contract); a block whose shortest member is exhausted simply stops
        // refining and stays hot-but-capped.
        // block occupancy + shortest member via a groupBy AGGREGATE joined
        // back, not count/min windows over __blk: the whole point of this
        // loop is that a block CAN be hot (that is what it detects), and a
        // window over the hot key would buffer that block in one
        // un-splittable task each round — the aggregate collapses it to one
        // row per map task and the join-back is AQE-skew-splittable. cur is
        // read by both the stats aggregate and the probe; past round 0 it
        // derives narrowly from the previous round's persisted frame, and
        // round 0 is one extra pass over the raw scan.
        val blockStats = cur.groupBy(col("__blk"))
          .agg(count(lit(1)).as("__n"), min(length(col("__s"))).as("__minLen"))
        val sized = cur
          .join(blockStats, Seq("__blk"))
          .persist()
        val growable = col("__n") > maxBlockSize && col("__minLen") > col("__len")
        anyHot = sized.filter(growable).count() > 0
        prev.foreach(_.unpersist(blocking = false))
        prev = Some(sized)
        // either way, continue from the CACHED frame — on the quiet round
        // the final join must read the persisted copy, not re-derive the
        // previous round's chain from scratch.
        cur =
          if (anyHot)
            // extend from each block's CURRENT length (blocks refine at their
            // own pace — one going hot only in round 2 grows one step, not
            // two), clamped to the block's shortest member so every member
            // lands on the same refined length
            sized
              .withColumn(
                "__len",
                when(growable, least(col("__len") + refineStep, col("__minLen")))
                  .otherwise(col("__len")))
              .withColumn("__blk", expr("substring(__s, 1, __len)"))
              .drop("__n", "__minLen")
          else sized.drop("__n", "__minLen")
        round += 1
      }
    }
    val base = cur.select(col("__id"), col("__s"), col("__blk"))
    base
      .as("a")
      .join(base.as("b"), col("a.__blk") === col("b.__blk") && col("a.__id") < col("b.__id"))
      .select(
        col("a.__id").as("id_a"),
        col("b.__id").as("id_b"),
        levenshtein(col("a.__s"), col("b.__s")).as("dist")
      )
      .filter(col("dist") <= maxDist)
  }

  /** Full record linkage: candidate pairs → TRANSITIVE entity groups → one
    * SURVIVOR record per group — what a master-data consumer actually wants
    * from ER (pairs are evidence, not an answer: if A~B and B~C, all three
    * are one entity even when A–C exceeds the edit bound).
    *
    * Composition of the engine's existing scale paths: the verified pairs
    * from [[blockedEditDistancePairs]] feed
    * [[Graph.connectedComponents]] (the near-dup clusters' operator: a
    * driver-side union-find up to its `maxDriverEdges` cap of verified
    * pairs, join-based O(log n) small-star/large-star rounds above it),
    * and survivor choice is
    * [[Dedup.keepBestPerCluster]] (broadcast cluster assignment, window
    * only over clustered records). Records matching nothing are their own
    * entity and always survive.
    *
    * @param quality survivor ranking — highest wins, ties break to the
    *        smallest id (deterministic, engine-portable)
    * @return one row per ENTITY: the surviving record's columns plus
    *         `entity_id` — a DETERMINISTIC member of the group: the
    *         smallest member id for integral id columns, and for string
    *         ids (the hash-mapped [[Graph.connectedComponents]] path) the
    *         member with the smallest xxhash64, which is stable across
    *         runs and engines but NOT the lexicographic minimum — do not
    *         assert `entity_id == min(member ids)` on string-keyed data
    */
  def resolve(
      df: DataFrame,
      idCol: String,
      strCol: String,
      blockLen: Int,
      maxDist: Int,
      quality: Column,
      maxBlockSize: Int = Int.MaxValue,
      refineStep: Int = 2,
      maxRefine: Int = 8
  ): DataFrame = {
    val pairs = blockedEditDistancePairs(
      df.select(col(idCol), col(strCol)),
      idCol, strCol, blockLen, maxDist, maxBlockSize, refineStep, maxRefine)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    Dedup
      .keepBestPerCluster(df, idCol, pairs, quality)
      .withColumnRenamed("cluster", "entity_id")
  }
}
