package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one JVM, `local[nproc]`.
  *
  *   perfbench.Main --workload <refresh_cycle|analytics_sf001>
  *     --seed <n> --seconds <s> --trace <0|1> --data <analytics dir>
  *     --work <scratch dir> [--record]
  *
  * Prints a `{"detail": ...}` line with the workload's own named figures,
  * then the result line: `correct`, `attempted`, `failed` and `metrics`
  * (end-to-end metrics untraced; per-layer metrics with `--trace 1`).
  * `--record` prints the analytics fingerprints to record instead.
  */
object Main {

  val EndToEnd: Seq[(String, String)] =
    Seq("setup_s" -> "s", "items_per_s" -> "1/s", "unit_ms" -> "ms", "rss_after_gc_mb" -> "MB")

  /** Every per-layer metric, in the order BENCHMARK.json lists them. */
  val PerLayer: Seq[(String, String)] = {
    val ingest = Seq("ingest.jobs_per_batch" -> "count", "ingest.job_s" -> "s", "ingest.driver_gap_s" -> "s",
      "ingest.batches" -> "count", "ingest.errors" -> "count", "ingest.invalid" -> "count")
    val sources = Seq("sources.scrape_calls" -> "count", "sources.scrape_busy_s" -> "s",
      "sources.fetch_busy_s" -> "s", "sources.rows_flattened" -> "count")
    val lake = Seq("lake.append_s" -> "s", "lake.bytes_written" -> "bytes", "lake.files_written" -> "count",
      "lake.compact_s" -> "s", "lake.compact_bytes_rewritten" -> "bytes", "lake.live_bytes" -> "bytes",
      "lake.live_files" -> "count", "lake.write_amp" -> "ratio", "lake.read_bytes" -> "bytes")
    val scd = Seq("scd.dedup_s" -> "s", "scd.dedup_keep_ratio" -> "ratio", "scd.report_s" -> "s",
      "scd.history_jobs" -> "count", "scd.history_bytes_read" -> "bytes", "scd.history_files_read" -> "count",
      "scd.report_shuffle_bytes" -> "bytes")
    val perQuery = Analytics.Queries.flatMap(q => Seq(s"operators.$q.wall_s" -> "s", s"operators.$q.jobs" -> "count",
      s"operators.$q.exec_s" -> "s", s"operators.$q.driver_gap_s" -> "s"))
    val perFamily = Analytics.Families.map(_._1).flatMap(f => Seq(s"operators.$f.shuffle_bytes" -> "bytes",
      s"operators.$f.spill_bytes" -> "bytes", s"operators.$f.input_bytes" -> "bytes"))
    val run = Seq("spark.gc_s" -> "s", "host.canary_s" -> "s", "trace.overhead_ratio" -> "ratio")
    ingest ++ sources ++ lake ++ scd ++ perQuery ++ perFamily ++ run
  }

  val Workloads: Seq[String] = Seq("refresh_cycle", "analytics_sf001")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, data: String, work: String,
      record: Boolean)

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w; known: ${Workloads.mkString(", ")}")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1", need("data"), need("work"),
      argv.contains("--record"))
  }

  /** A `/proc/self/status` memory field, in MB. */
  def statusMb(field: String): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith(field + ":") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Resident set after two full collections: what the run still holds. */
  def rssAfterGcMb(): Double = {
    System.gc(); Thread.sleep(500); System.gc(); Thread.sleep(200)
    statusMb("VmRSS")
  }


  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  }

  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  private def quote(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  def metricsJson(ms: Seq[(String, String)], values: Map[String, Double]): String =
    ms.map { case (n, u) => s"${quote(n)}: {\"value\": ${num(values.getOrElse(n, 0.0))}, \"unit\": ${quote(u)}}" }
      .mkString("{", ", ", "}")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = graft.GraftSession.local(nproc, nproc)
    try {
      if (a.record) record(spark, a)
      else runWorkload(spark, a, nproc)
    } finally spark.stop()
  }

  private def record(spark: SparkSession, a: Args): Unit =
    Analytics.Queries.foreach { q =>
      val (n, h) = Analytics.fingerprint(spark, q, a.data)
      println(s"$q\t$n\t$h")
    }

  /** One run of the workload; with tracing, its traced units' per-layer
    * figures are the result.
    */
  private def runWorkload(spark: SparkSession, a: Args, nproc: Int): Unit = {
    val canary = new Canary(spark, nproc)
    val canaryStart = canary.measure()
    val ctx = new Ctx(spark, a.work, a.data, a.seed, a.seconds, nproc)
    val gc0 = gcSeconds()
    val outcome = a.workload match {
      case "refresh_cycle" => RefreshCycle.measure(ctx, a.trace)
      case "analytics_sf001" => Analytics.measure(ctx, a.trace)
    }
    val canaryS = Stats.median(Seq(canaryStart, canary.measure()))
    val layers = outcome.layers ++ Map("spark.gc_s" -> (gcSeconds() - gc0), "host.canary_s" -> canaryS)
    val e2e = outcome.e2e + ("rss_after_gc_mb" -> rssAfterGcMb())
    val detail = outcome.detail ++ e2e ++ Map(
      "host.canary_s" -> canaryS,
      "failed_ratio" -> ctx.failed.toDouble / math.max(1L, ctx.attempted),
      "peak_rss_mb" -> statusMb("VmHWM"))
    ctx.mismatches.take(20).foreach(m => System.err.println(s"[perfbench] check failed: $m"))
    println("{\"detail\": " + detail.toSeq.sortBy(_._1).map { case (k, v) => s"${quote(k)}: ${num(v)}" }
      .mkString("{", ", ", "}") + "}")
    val metrics = if (a.trace) metricsJson(PerLayer, layers) else metricsJson(EndToEnd, e2e)
    println(s"""{"correct": ${ctx.mismatches.isEmpty}, "attempted": ${ctx.attempted}, "failed": ${ctx.failed}, "metrics": $metrics}""")
  }
}
