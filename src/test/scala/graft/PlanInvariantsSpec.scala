package graft

/** Plan-shape assertions for the round-3 query surface: the properties that
  * make each query survive a 100× scale-up, checked against the actual
  * executed plan (not eyeballed). Complements PlanDump (plan files) and
  * the per-operator plan tests in AsOfJoinSpec/SamplingSpec/BucketingSpec.
  */
@org.scalatest.tags.Slow
class PlanInvariantsSpec extends SparkSpec {
  import graft.plan.PlanChecks

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  private def report(q: String): PlanChecks.Report =
    PlanChecks.inspect(SparkEntry.queries(q)(spark, dir))

  test("no query surface plan contains a nested-loop or cartesian join") {
    // the all-pairs trap every similarity/temporal operator must avoid —
    // asserted through the same PlanChecks API users get (q88's overlap
    // join included: bucketization is exactly what keeps it out of BNLJ)
    for (q <- Seq("q59_asof_join", "q62_neardup_clusters", "q64_decontaminate",
                  "q67_tfidf_topk", "q70_funnel", "q74_incremental_probe",
                  "q88_interval_overlap", "q90_split_leakage",
                  "q103_repeated_spans", "q104_substring_trim",
                  "q105_phash_neardup", "q109_domain_token_budget",
                  "q110_similarity_pack", "q111_incremental_spans",
                  "q156_revisit_schedule", "q158_anchor_corpus",
                  "q159_recrawl_frontier", "q161_lm_bigram",
                  "q162_politeness_budget")) {
      val r = report(q)
      assert(!r.hasAllPairsJoin, s"$q has an all-pairs join:\n${r.render}")
    }
  }

  test("decontamination and incremental probe broadcast the small side") {
    for (q <- Seq("q64_decontaminate", "q74_incremental_probe")) {
      val r = report(q)
      assert(r.broadcastHashJoins >= 1, s"$q should broadcast its index side:\n${r.render}")
    }
  }

  test("funnel is a single user-key shuffle before the stage aggregate") {
    val exchanges = "Exchange".r.findAllIn(plan("q70_funnel")).size
    assert(exchanges <= 3, s"q70 should shuffle once on user + tiny agg + sort, found $exchanges exchanges")
  }

  test("retention is collect_set-based: three exchanges, no join") {
    val p = plan("q71_retention")
    assert(!p.contains("Join"), "q71 should not join")
    assert("Exchange".r.findAllIn(p).size <= 3)
  }

  test("mixture/weighted sampling plans contain no exchange at all") {
    for (q <- Seq("q60_sample_bernoulli", "q72_weighted_sample", "q73_mixture")) {
      // allow only the final global-sort exchange of the oracle ORDER BY
      val p = plan(q)
      val nonSort = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(nonSort == 0, s"$q should filter scan-side with no hash shuffle, found $nonSort")
    }
  }

  test("profile is one aggregation pass over one scan") {
    val p = plan("q69_profile")
    assert("Scan parquet".r.findAllIn(p).size == 1, "q69 must scan lineitem exactly once")
  }

  test("LM scoring broadcasts the vocabulary; the corpus side never hash-shuffles rows") {
    val p = plan("q77_lm_quality")
    assert(p.contains("BroadcastHashJoin"), "q77 must broadcast the unigram model")
    assert(!p.contains("SortMergeJoin"), "q77 must not shuffle-join the corpus against the vocab")
  }

  test("shuffle-shard is one hash exchange (the shard key), not a global sort of the data") {
    val p = plan("q78_shuffle_shard")
    // one hash partitioning for the window + the final presentation sort
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"q78 should shuffle once on the shard key:\n$p")
  }

  test("image sniffing adds no exchange beyond the presentation sort") {
    val p = plan("q79_image_header_meta")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 0,
      "q79 must sniff scan-side")
  }

  test("exact-moment stats are single-pass aggregates over one scan") {
    for (q <- Seq("q80_exact_corr", "q81_histogram")) {
      val p = plan(q)
      assert("Scan parquet".r.findAllIn(p).size == 1, s"$q must scan lineitem exactly once")
      assert(!p.contains("Join"), s"$q must not join")
    }
  }

  test("PQ ADC probe broadcasts the query table; the encoded corpus never hash-shuffles pre-rank") {
    val p = plan("q85_pq_adc")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "q85 must broadcast the per-query distance tables")
    assert(!p.contains("SortMergeJoin"), "q85 must not shuffle-join the corpus")
    // exactly one hash exchange: the per-query top-k window rank
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"q85 should shuffle only for the rank window:\n$p")
  }

  test("vocabulary is two-level partial aggregation ending in TakeOrdered, no global sort") {
    val p = plan("q86_vocab_topk")
    assert(p.contains("TakeOrderedAndProject"), "q86 top-k must be TakeOrdered, not sort+limit")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "q86 must plan partial+final aggregates at both (term,doc) and term levels")
  }

  test("cluster-best dedup broadcasts the cluster assignment onto the corpus scan") {
    val p = plan("q87_cluster_best")
    assert(p.contains("BroadcastHashJoin"), "q87 must broadcast the cluster assignment")
  }

  test("AQE skew split fires on a planted hot key (the shuffle-join family's 100x-skew story)") {
    // The q05/q59 join family relies on AQE to split runtime stragglers;
    // this proves the mechanism actually engages instead of trusting the
    // config. One key owns ~80% of the left side; thresholds are lowered to
    // test scale, ratios (factor 2 over the median partition) as in prod.
    import spark.implicits._
    import org.apache.spark.sql.functions.{lit, sha2, when}
    val keep = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold"
    ).map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32k")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // pad must be INCOMPRESSIBLE: skew detection reads the map output's
      // compressed partition sizes, and a constant pad deflates to nothing
      val left = spark.range(100000)
        .select(
          when($"id" < 80000, lit(1L)).otherwise($"id").as("k"),
          sha2($"id".cast("string"), 512).as("pad"))
      val right = spark.range(100000).select($"id".as("k"), lit(1).as("v"))
      val joined = left.join(right, "k")
      // execute THIS frame's own QueryExecution (a write/count would spawn a
      // fresh one and leave joined's adaptive plan un-finalized)
      assert(joined.collect().length == 100000)
      val r = PlanChecks.inspect(joined)
      assert(r.skewedJoins >= 1, s"AQE skew split did not fire on the hot key:\n${r.render}")
    } finally keep.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("no query surface plan contains a ScalaUDF — the sniffers run as codegen Expressions") {
    // the media sniffers were the last per-row ScalaUDFs on the query path
    // (now SniffImageMeta/SniffAvMeta, HashExprs-style); the q92/q93 fixture
    // builders moved to a typed mapPartitions fixture step. ScalaUDF pays a
    // ser/de boundary per row and breaks whole-stage codegen — assert the
    // whole 93-query surface stays free of them.
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    for ((name, f) <- SparkEntry.queries) {
      val p = f(spark, dir).queryExecution.executedPlan
      val udfs = p.collect { case sp => sp.expressions }.flatten
        .flatMap(_.collect { case u: ScalaUDF => u })
      assert(udfs.isEmpty, s"$name carries ScalaUDF(s): ${udfs.mkString(", ")}")
    }
  }
}
