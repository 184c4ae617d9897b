package perfbench

import graft.ingest.{Engine, IngestConfig, Source}
import graft.lake.Lake
import graft.scd.Scd
import graft.sources.vgsi.VgsiSource
import org.apache.spark.sql.functions.{col, lit}

import scala.collection.mutable

/** The write path: `Engine.runLoad` of a generated city, then refresh
  * rounds. A round is `Engine.runRefresh` followed by the CLI's
  * post-refresh change report; after it come a few `admin history` lookups
  * with Zipf-skewed keys over the lake the rounds wrote.
  */
object RefreshCycle {
  val CityPids = 1000
  val Scope = "benchville"
  val MinRounds = 2
  val TracedRounds = 2
  val LookupsPerRound = 3
  val ZipfS = 1.1

  /** The CLI's ingest config (1,000-entry batches, checkpoint and
    * compaction on) with one worker per core.
    */
  def config(nproc: Int): IngestConfig =
    IngestConfig(workers = nproc, maxConsecutiveErrors = 50, compactAfter = true, checkpoint = true,
      checkpointEvery = 1000)

  /** The source of `round`, with the rate limiter off so the run measures
    * the engine rather than the politeness sleep.
    */
  def source(plan: DriftPlan, round: Int, counters: Option[SourceCounters]): Source = {
    val fetch = plan.fetch(round)
    counters match {
      case None => VgsiSource("https://bench.invalid/", fetch, ratePerSec = 0)
      case Some(c) => TimedSource(VgsiSource("https://bench.invalid/", TimedFetch(fetch, c), ratePerSec = 0), c)
    }
  }

  /** Versions `Scd.history` must return for `pid` after `round`: the base
    * page, plus one per drift and one per revert so far.
    */
  def expectedVersions(plan: DriftPlan, pid: Long, round: Int): Int =
    1 + (1 to round).count(k => plan.changed(k)(pid)) + (1 until round).count(k => plan.changed(k)(pid))

  /** Set-up is the cold load of the city into a fresh lake plus one
    * warm-up round. Timed rounds then run until `ctx.seconds` have passed,
    * at least [[MinRounds]] of them. With `traced`, [[TracedRounds]] more
    * rounds run under a [[Trace]], and their layer figures are the result's
    * `layers`.
    */
  def measure(ctx: Ctx, traced: Boolean): Outcome = {
    import ctx.spark.implicits._
    val spark = ctx.spark
    val plan = DriftPlan(VgsiCity(ctx.seed, CityPids))
    val city = plan.city
    val root = ctx.freshDir("lake")
    val cfg = config(ctx.nproc)
    val seenFiles = mutable.Set[String]()
    var writtenRows = 0L
    var errors = 0L
    var invalid = 0L

    val (load, loadS) = Stats.unit("load")(ctx.op {
      Engine.runLoad(spark, source(plan, 0, None), city.pids, root, Scope, cfg)
    })
    load.foreach { s =>
      ctx.check(s.scraped == city.validPids.size, s"load scraped ${s.scraped}, expected ${city.validPids.size}")
      ctx.check(s.invalid == city.invalidPids.size, s"load invalid ${s.invalid}, expected ${city.invalidPids.size}")
      ctx.check(s.errors == 0, s"load errors ${s.errors}")
      val exp = city.validPids.flatMap(city.rowCounts).groupMapReduce(_._1)(_._2.toLong)(_ + _)
      exp.foreach { case (t, n) =>
        ctx.check(s.rowsWritten.getOrElse(t, 0L) == n, s"load wrote ${s.rowsWritten.getOrElse(t, 0L)} $t rows, expected $n")
      }
    }
    // history lookups address entities by uuid, as `admin history` does
    val uuidOf: Map[Long, String] = ctx.op {
      Lake.read(spark, root, Scope, "properties").select($"pid", $"uuid").as[(Long, String)].collect().toMap
    }.getOrElse(Map.empty)
    val zipf = new Rng.Zipf(city.validPids.size, ZipfS)
    val byRank = city.validPids.sortBy(pid => Rng.mix(ctx.seed, 0x2a2aL, pid))
    lazy val counters = SourceCounters(spark.sparkContext) // registered by the first traced round

    /** Round `r`, traced when `t` is given; returns the refreshed entry
      * count and the raw seconds of its refresh, report and lookups.
      */
    def round(r: Int, t: Option[Trace]): (Long, Double, Double, Seq[Double]) = {
      def span[T](name: String, layer: String)(body: => T): T = t.fold(body) { tr =>
        try tr.span(name, layer)(body) finally seenFiles ++= LakeFiles.list(root).map(_._1)
      }
      val since = new java.sql.Timestamp(System.currentTimeMillis())
      val (stats, rs) = Stats.unit(s"refresh.$r")(ctx.op(span(s"refresh.$r", Layers.Ingest) {
        Engine.runRefresh(spark, source(plan, r, t.map(_ => counters)), root, Scope, cfg)
      }))
      val (report, ps) = Stats.time(ctx.op(span(s"report.$r", Layers.Scd) {
        val props = Lake.read(spark, root, Scope, "properties")
        Scd.changedSince(props, col("uuid"), col("row_hash"), lit(since), col("scraped_at"))
          .select($"pid").as[Long].collect()
      }))
      val hs = (1 to LookupsPerRound).map { k =>
        val pid = byRank(zipf.draw(Rng.unit(ctx.seed, 0x3b3bL, r, k)))
        Stats.time(ctx.op(span(s"history.$r.$k", Layers.Scd) {
          val props = Lake.read(spark, root, Scope, "properties")
          val n = Scd.history(props, col("uuid"), uuidOf(pid), col("row_hash"), col("scraped_at")).collect().length
          val want = expectedVersions(plan, pid, r)
          ctx.check(n == want, s"round $r history of pid $pid has $n versions, expected $want")
        }))._2
      }
      stats.foreach { s =>
        if (t.isDefined) { writtenRows += s.rowsWritten.values.sum; errors += s.errors; invalid += s.invalid }
        ctx.check(s.scraped == city.validPids.size, s"round $r scraped ${s.scraped}")
        ctx.check(s.errors == 0 && s.invalid == 0, s"round $r errors ${s.errors} invalid ${s.invalid}")
        val exp = plan.expectedWrites(r)
        (s.rowsWritten.keySet ++ exp.keySet).foreach { tb =>
          val got = s.rowsWritten.getOrElse(tb, 0L)
          ctx.check(got == exp.getOrElse(tb, 0L), s"round $r wrote $got $tb rows, expected ${exp.getOrElse(tb, 0L)}")
        }
      }
      report.foreach { pids =>
        ctx.check(pids.toSet == plan.touched(r) && pids.length == plan.touched(r).size,
          s"round $r change report returned ${pids.length} pids, expected ${plan.touched(r).size}")
      }
      (stats.map(_.scraped).getOrElse(0L), rs, ps, hs)
    }

    val ok = load.isDefined && uuidOf.nonEmpty
    val warm = if (ok) Some(round(1, None)) else None
    val timed = mutable.ArrayBuffer[(Long, Double, Double, Seq[Double])]()
    val start = System.nanoTime()
    while (ok && (timed.size < MinRounds || (System.nanoTime() - start) / 1e9 < ctx.seconds))
      timed += round(timed.size + 2, None)
    // the listeners attach only now, so the timed rounds run without them
    val trace = if (traced && ok) Some(new Trace(spark)) else None
    val tracedRounds =
      try trace.toSeq.flatMap(t => (1 to TracedRounds).map(k => round(timed.size + 1 + k, Some(t))))
      finally trace.foreach(_.close())

    ctx.op {
      val props = Lake.read(spark, root, Scope, "properties")
      val cur = Scd.currentState(props, col("uuid"), col("scraped_at"), col("row_hash")).select($"pid").as[Long].collect()
      ctx.check(cur.length == city.validPids.size && cur.toSet == city.validPids.toSet,
        s"currentState returned ${cur.length} rows, expected ${city.validPids.size}")
    }

    def roundS(x: (Long, Double, Double, Seq[Double])) = x._2 + x._3
    val history = timed.flatMap(_._4).toSeq
    val refreshed = timed.map(_._1).sum
    val e2e = Map(
      "setup_s" -> (loadS + warm.map(roundS).getOrElse(0.0)),
      "items_per_s" -> refreshed / timed.map(_._2).sum,
      "unit_ms" -> 1e3 * Stats.median(timed.map(roundS).toSeq)
    )
    val detail = Map(
      "load_s" -> loadS,
      "load_entries_per_s" -> load.map(_.scraped / loadS).getOrElse(Double.NaN),
      "refresh_entries_per_s" -> refreshed / timed.map(_._2).sum,
      "refresh_round_s" -> Stats.median(timed.map(roundS).toSeq),
      "refresh_rounds" -> timed.size.toDouble,
      "report_s" -> Stats.median(timed.map(_._3).toSeq),
      "history_p50_ms" -> 1e3 * Stats.median(history),
      "history_p90_ms" -> 1e3 * Stats.quantile(history, 0.9),
      "lake_bytes_per_entry" -> LakeFiles.list(root).map(_._2).sum.toDouble / city.validPids.size
    )
    val layers = trace match {
      case Some(t) =>
        RefreshLayers(t, counters, root, writtenRows, seenFiles.size) ++ Map(
          "ingest.errors" -> errors.toDouble,
          "ingest.invalid" -> invalid.toDouble,
          "trace.overhead_ratio" -> Stats.median(tracedRounds.map(roundS)) / Stats.median(timed.map(roundS).toSeq))
      case None => Map.empty[String, Double]
    }
    Outcome(e2e, detail, layers)
  }
}

/** Per-layer figures of the traced refresh rounds: times and byte counts
  * are per round (median or mean over the traced rounds), counts of scrapes
  * and rows are totals.
  */
object RefreshLayers {
  def apply(t: Trace, c: SourceCounters, root: String, writtenRows: Long, filesWritten: Int): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val refreshes = t.spansNamed(_.startsWith("refresh."))
    val reports = t.spansNamed(_.startsWith("report."))
    val histories = t.spansNamed(_.startsWith("history."))
    val ingestJobs = refreshes.flatMap(t.jobsOf)
    val batches = c.scrapeStages.value.asScala.toSet.size
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def isCompaction(j: JobRec) = j.layer == Layers.Lake && j.callSite.contains("compact")
    def isAppend(j: JobRec) = j.layer == Layers.Lake && !isCompaction(j) && j.callSite.contains("append")
    def busy(p: JobRec => Boolean) = med(refreshes.map(s => t.busySeconds(s, t.jobsOf(s).filter(p))))
    def perRound(xs: Seq[Double]) = xs.sum / math.max(1, refreshes.size)
    val appendBytes = ingestJobs.filter(isAppend).map(_.stats.outputBytes.toDouble)
    val compactBytes = ingestJobs.filter(isCompaction).map(_.stats.outputBytes.toDouble)
    val live = LakeFiles.list(root)
    Map(
      "ingest.jobs_per_batch" -> ingestJobs.size.toDouble / math.max(1, batches),
      "ingest.job_s" -> busy(_ => true),
      "ingest.driver_gap_s" -> med(refreshes.map(t.driverGapSeconds)),
      "ingest.batches" -> batches.toDouble,
      "sources.scrape_calls" -> c.scrapeCalls.value.toDouble,
      "sources.scrape_busy_s" -> c.scrapeNs.value / 1e9,
      "sources.fetch_busy_s" -> c.fetchNs.value / 1e9,
      "sources.rows_flattened" -> c.rowsFlattened.value.toDouble,
      "lake.append_s" -> busy(isAppend),
      "lake.bytes_written" -> perRound(appendBytes ++ compactBytes),
      "lake.files_written" -> filesWritten.toDouble,
      "lake.compact_s" -> busy(isCompaction),
      "lake.compact_bytes_rewritten" -> perRound(compactBytes),
      "lake.live_bytes" -> live.map(_._2).sum.toDouble,
      "lake.live_files" -> live.size.toDouble,
      "lake.write_amp" -> (appendBytes ++ compactBytes).sum / math.max(1.0, appendBytes.sum),
      "lake.read_bytes" -> perRound((refreshes ++ reports ++ histories).flatMap(t.scansOf).map(_.bytes.toDouble)),
      "scd.dedup_s" -> busy(_.sqlPlan.contains("__rd_key")),
      "scd.dedup_keep_ratio" -> writtenRows.toDouble / math.max(1L, c.rowsFlattened.value),
      "scd.report_s" -> med(reports.map(_.seconds)),
      "scd.report_shuffle_bytes" -> mean(reports.map(r => t.jobsOf(r).map(_.stats.shuffleWriteBytes).sum.toDouble)),
      "scd.history_jobs" -> mean(histories.map(t.jobsOf(_).size.toDouble)),
      "scd.history_bytes_read" -> mean(histories.map(h => t.scansOf(h).map(_.bytes).sum.toDouble)),
      "scd.history_files_read" -> mean(histories.map(h => t.scansOf(h).map(_.files).sum.toDouble))
    )
  }
}
