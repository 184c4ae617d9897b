package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** The compute path: fixed `SparkEntry.queries` over the committed
  * analytics tables, one closed-loop client, sweeps in a seeded order.
  */
object Analytics {
  val Families: Seq[(String, Seq[String])] = Seq(
    "cc" -> Seq("q62_neardup_clusters", "q63_neardup_dropped", "q87_cluster_best", "q91_entity_resolve"),
    "text_overlap" -> Seq("q56_winnowing_overlap", "q24_ngram_jaccard", "q133_containment_pairs"),
    "media" -> Seq("q105_phash_neardup", "q115_audio_neardup", "q117_phash_verified", "q127_video_neardup"),
    "relational" -> Seq("q01_pricing_summary", "q03_topk_orders", "q05_region_revenue", "q11_current_state",
      "q12_change_detect", "q13_scd2_versions", "q14_changed_since")
  )
  val Queries: Seq[String] = Families.flatMap(_._2)

  /** Rows and order-independent hash of a query's result. */
  def fingerprint(spark: SparkSession, name: String, dataDir: String): (Long, String) =
    ResultHash(graft.SparkEntry.queries(name)(spark, dataDir))

  /** Runs every query once, `nproc` at a time, so the timed sweeps start
    * with compiled code and warm caches.
    */
  def warmUp(ctx: Ctx): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.nproc)
    try {
      Queries.map(q => pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = graft.SparkEntry.queries(q)(ctx.spark, ctx.dataDir).collect().length.toLong
      })).foreach(_.get())
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
    }
  }

  /** Set-up is the warm-up pass. Whole sweeps then run until `ctx.seconds`
    * have passed, at least one. With `traced`, one more sweep runs under a
    * [[Trace]], and its layer figures are the result's `layers`.
    */
  def measure(ctx: Ctx, traced: Boolean): Outcome = {
    val (_, setupS) = Stats.unit("warm-up")(warmUp(ctx))
    val expected = Expected.load()
    /** Sweep `k` in a seeded order; returns each query's raw seconds. */
    def sweep(k: Int, t: Option[Trace]): Seq[(String, Double)] = {
      val order = Queries.sortBy(q => Rng.mix(ctx.seed, k, q.hashCode.toLong))
      val (times, _) = Stats.unit(s"sweep.$k")(order.map { q =>
        def run() = fingerprint(ctx.spark, q, ctx.dataDir)
        val (res, s) = Stats.time(ctx.op(t.fold(run())(_.span(q, Layers.Operators)(run()))))
        res.foreach { got =>
          val want = expected.get(q)
          ctx.check(want.contains(got), s"$q returned ${got._1} rows hash ${got._2}, expected ${want.getOrElse("none")}")
        }
        q -> s
      })
      times
    }
    val sweeps = mutable.ArrayBuffer[Seq[(String, Double)]]()
    val start = System.nanoTime()
    while (sweeps.isEmpty || (System.nanoTime() - start) / 1e9 < ctx.seconds) sweeps += sweep(sweeps.size + 1, None)
    // the listeners attach only now, so the timed sweeps run without them
    val trace = if (traced) Some(new Trace(ctx.spark)) else None
    val tracedSweep = try trace.map(t => sweep(sweeps.size + 1, Some(t))) finally trace.foreach(_.close())

    val perQuery = Queries.map(q => q -> Stats.median(sweeps.flatMap(_.collect { case (`q`, s) => s }).toSeq)).toMap
    val sweepS = perQuery.values.sum
    // the geometric mean weighs every query alike, so the driver-latency-bound
    // cc family (two thirds of a sweep) does not set the typical query time
    val e2e = Map(
      "setup_s" -> setupS,
      "items_per_s" -> Queries.size / sweepS,
      "unit_ms" -> 1e3 * math.exp(perQuery.values.map(math.log).sum / Queries.size)
    )
    val detail = Families.map { case (f, qs) => s"${f}_s" -> qs.map(perQuery).sum }.toMap ++
      Map("analytics_total_s" -> sweepS, "sweeps" -> sweeps.size.toDouble)
    val layers = trace.fold(Map.empty[String, Double]) { t =>
      val perQ = Queries.flatMap { q =>
        val ss = t.spansNamed(_ == q)
        Seq(
          s"operators.$q.wall_s" -> Stats.median(ss.map(_.seconds)),
          s"operators.$q.jobs" -> Stats.median(ss.map(t.jobsOf(_).size.toDouble)),
          s"operators.$q.exec_s" -> Stats.median(ss.map(t.jobsOf(_).map(_.stats.runMs).sum / 1e3)),
          s"operators.$q.driver_gap_s" -> Stats.median(ss.map(t.driverGapSeconds))
        )
      }
      val perFamily = Families.flatMap { case (f, qs) =>
        val js = t.spansNamed(qs.contains).flatMap(t.jobsOf)
        Seq(
          s"operators.$f.shuffle_bytes" -> js.map(_.stats.shuffleWriteBytes).sum.toDouble,
          s"operators.$f.spill_bytes" -> js.map(_.stats.spillBytes).sum.toDouble,
          s"operators.$f.input_bytes" -> js.map(_.stats.inputBytes).sum.toDouble
        )
      }
      (perQ ++ perFamily).toMap +
        ("trace.overhead_ratio" -> tracedSweep.map(_.map(_._2).sum).getOrElse(Double.NaN) / sweepS)
    }
    Outcome(e2e, detail, layers)
  }
}
