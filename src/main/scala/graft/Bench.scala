package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // Optional comma-separated name filter for local iteration on a subset
    // (e.g. SPARK_GRAFT_BENCH_ONLY=q62_neardup_clusters,q63_neardup_dropped);
    // unset, every query runs. Checked before the session starts: an
    // unknown name fails naming it.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(SparkEntry.selectNames(_).toSet)
    val spark = GraftSession.local(cpus, cpus)
    // Warm-up: absorb one-time session bootstrap (codegen compiler, shuffle
    // infrastructure, broadcast machinery, parquet footer reads) so
    // per-query times measure the queries — whichever query ran first was
    // otherwise charged ~4-5s of session init.
    locally {
      import org.apache.spark.sql.functions._
      spark.range(1000000).agg(sum(col("id"))).collect()
      val r = spark.read.parquet(s"$sfDir/region.parquet")
      val n = spark.read.parquet(s"$sfDir/nation.parquet")
      r.join(broadcast(n), col("r_regionkey") === col("n_regionkey"))
        .groupBy(col("r_name")).count().collect()
    }
    // min of three timed runs per query, with the reps INTERLEAVED: three
    // full sweeps over every query, per-query min across sweeps. This host
    // shows 2-3x wall-clock noise between runs, and the min is the better
    // estimate of the query's actual cost. Back-to-back reps (the previous
    // protocol) proved insufficient in the round-5 run: a multi-minute
    // host-load window covered all three consecutive reps of a contiguous
    // query block, surviving the min. Interleaving means a load window
    // must span the ENTIRE bench three times over to corrupt any single
    // min — minutes apart instead of seconds. Every rep executes fully:
    // the session cache is cleared before each, so a query that persists
    // intermediates (the near-dup family) cannot serve sweep N from sweep
    // N-1's blocks — the min measures the query's compute, not a cache
    // hit. (The OS page cache is shared by all sweeps; that is the steady
    // state a real cluster sees too.) A query that throws in any sweep
    // reports -1.0 — a failure marker, never a time.
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .toSeq
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      spark.sharedState.cacheManager.clearCache()
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable => System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); None }
    }
    // Load canary: a fixed CPU-bound calibration task (no IO, no shuffle —
    // pure codegen'd hash over a range) run before each sweep. Its time is
    // a pure function of available CPU, so a loaded host shows up as
    // canary drift even when the min-of-3 protocol hides it: the min
    // defends against a load WINDOW, not a load FLOOR spanning the whole
    // run (the round-12 driver record was ~1.33x inflated end-to-end and
    // only a from-scratch re-run could prove the regression was phantom).
    // Rejection rule (documented in README): any canary > 1.5x CANARY_REF
    // (the committed idle-host reference) => the run is load-contaminated;
    // rerun it rather than reading per-query deltas from it.
    // The committed reference is an idle-host measurement at local[32]; the
    // canary job is embarrassingly parallel (one range partition per core,
    // no shuffle), so its wall scales ~32/cpus — without the rescale, every
    // idle run at the default SPARK_GRAFT_CPUS=4 would read ~8x the 32-core
    // reference and be falsely flagged load-contaminated. The report records
    // cpus so a reader can reproduce the rescale.
    val CanaryRef = 0.19 * (32.0 / cpus) // idle local[32] seconds, committed round 13
    def canaryJob(rows: Long): Unit = {
      import org.apache.spark.sql.functions._
      spark.range(0, rows, 1, cpus).select(sum(xxhash64(col("id")))).collect()
    }
    def canaryOnce(): Double = {
      val t0 = System.nanoTime()
      canaryJob(64000000L)
      (System.nanoTime() - t0) / 1e9
    }
    // Warm the canary before sweep 1 gates on it. Its wall time includes
    // Spark's per-job scheduling path, which stays JIT-cold until many jobs
    // have run, so the warm-up runs 50 small jobs of the canary's own shape
    // (that path), then full-size runs (its codegen'd hash loop). Measured
    // at sf0.01 on 4 cores: the next canary reads 0.13 s, against 0.26-0.33 s
    // after one full-size run and 0.11 s after a sweep of queries — enough
    // to trip the 2x drift rule below on sweep 1 of an idle run.
    (1 to 50).foreach(_ => canaryJob(64000L))
    (1 to 3).foreach(_ => canaryOnce())
    // PER-SWEEP canary rejection (round-14 verdict): the whole-run flags
    // below can't reject a run where 2 of 3 sweeps were loaded — min-of-3
    // silently degrades to min-of-1 and the committed total carries the
    // load. So each sweep must PASS the canary before it runs: a canary
    // > 1.5x ref is rejected and retried after a short pause (load on this
    // host is usually a transient co-tenant burst), up to 4 attempts.
    // Retries are recorded (canary_retries) so a clean report provably ran
    // all-sweeps-idle; if a sweep NEVER passes, it runs anyway — flagged
    // loud via canary_sweep_loaded — because a flagged record beats a
    // missing one for the per-round driver (tools/round_bench.sh turns the
    // flag into a hard gate for the committed reports).
    val MaxCanaryAttempts = 4
    // canaryGate returns the sweep's (canary, stillLoaded, retriesSpent):
    // the loaded flag and the retry count belong to ONE sweep's record,
    // not to a global mutable — the drift loop below REPLACES whole
    // sweeps, and a report flag must describe the sweeps actually
    // recorded (a replaced loaded sweep's flag must leave with it; a
    // discarded re-run's must never enter).
    def canaryGate(): (Double, Boolean, Int) = {
      var c = canaryOnce()
      var attempt = 1
      var retries = 0
      while (c > 1.5 * CanaryRef && attempt < MaxCanaryAttempts) {
        System.err.println(f"[bench] canary $c%.3f s > 1.5x ref $CanaryRef%.3f s — " +
          s"host loaded, rejecting sweep attempt $attempt and retrying")
        retries += 1
        Thread.sleep(5000)
        c = canaryOnce()
        attempt += 1
      }
      val stillLoaded = c > 1.5 * CanaryRef
      if (stillLoaded)
        System.err.println(f"[bench] canary still $c%.3f s after $MaxCanaryAttempts attempts — " +
          "running the sweep LOADED; this report must not be committed as a perf record")
      (c, stillLoaded, retries)
    }
    val canaries = scala.collection.mutable.ArrayBuffer[Double]()
    val sweepLoaded = scala.collection.mutable.ArrayBuffer[Boolean]()
    val sweepRetries = scala.collection.mutable.ArrayBuffer[Int]()
    val sweepBuf = scala.collection.mutable.ArrayBuffer[Seq[(String, Option[Double])]]()
    // Janino compiles per sweep (CodegenMetrics delta, read outside every
    // timed region): a warm sweep that still compiles hundreds of classes
    // means the generated-class cache no longer holds the working set
    val sweepCompiles = scala.collection.mutable.ArrayBuffer[Long]()
    def sweep(): (Seq[(String, Option[Double])], Long) = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val times = selected.map { case (name, fn) => name -> once(name, fn) }
      (times, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
    }
    for (_ <- 1 to 3) {
      val (c, loaded, retries) = canaryGate()
      canaries += c; sweepLoaded += loaded; sweepRetries += retries
      val (times, compiles) = sweep()
      sweepBuf += times; sweepCompiles += compiles
    }
    // WHOLE-RUN drift rejection (round-15 verdict): per-sweep gating
    // passes sweeps that are individually under 1.5x ref yet still 2x
    // apart from each other (r15's committed record: canaries
    // [0.167, 0.125, 0.261] → canary_drift=true) — one sweep ran on a
    // measurably busier host than another. When the post-hoc max/min
    // across ACCEPTED sweeps exceeds 2, re-run the outlier sweep
    // (bounded: 2 re-runs), replacing it only when the re-run's canary
    // actually improves on it — a re-run landing on an even busier host
    // must not replace a better record. Per-query times merge
    // new-or-old so a replacement made for TIMING hygiene can never
    // manufacture a failure for a query that already succeeded.
    val MaxDriftReruns = 2
    var driftReruns = 0
    // every canary that was measured but does NOT back a recorded sweep
    // (a replaced outlier's, or a discarded re-run's) — preserved so the
    // audit trail still shows what the drift rule fired on and healed
    val discardedCanaries = scala.collection.mutable.ArrayBuffer[Double]()
    while (canaries.max > 2.0 * canaries.min && driftReruns < MaxDriftReruns) {
      val outlier = canaries.indexOf(canaries.max)
      System.err.println(f"[bench] whole-run canary drift (max/min = " +
        f"${canaries.max / canaries.min}%.2f > 2): re-running outlier sweep ${outlier + 1} " +
        f"(canary ${canaries(outlier)}%.3f s)")
      driftReruns += 1
      // flags ride their sweep: an accepted re-run REPLACES the outlier's
      // canary, loaded flag, and retry count wholesale (so a replaced
      // LOADED sweep stops flagging the record — the drift rule healed
      // it), and a discarded re-run's outcomes never enter the record at
      // all (canary_sweep_loaded is a hard gate in round_bench; poisoning
      // it from a measurement that backs nothing would reject a clean
      // record)
      val (c, loaded, retries) = canaryGate()
      if (c < canaries(outlier)) {
        val (rerun, compiles) = sweep()
        val old = sweepBuf(outlier).toMap
        sweepBuf(outlier) = rerun.map { case (n, t) => n -> t.orElse(old.getOrElse(n, None)) }
        discardedCanaries += canaries(outlier) // the drifted value the rule healed
        canaries(outlier) = c
        sweepLoaded(outlier) = loaded
        sweepRetries(outlier) = retries
        sweepCompiles(outlier) = compiles
      } else {
        discardedCanaries += c
        System.err.println(f"[bench] re-run canary $c%.3f s did not improve on the outlier — keeping the original sweep")
      }
    }
    val sweeps = sweepBuf.toSeq
    // report flags computed from the RECORDED sweeps only
    val canarySweepLoaded = sweepLoaded.exists(identity)
    val canaryRetries = sweepRetries.sum
    def fmt(d: Double): String = BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    val rawTimes = selected.map { case (name, _) =>
      name -> sweeps.map(_.collectFirst { case (`name`, t) => t }.flatten)
    }
    val results = rawTimes.map { case (name, times) =>
      val ok = times.flatten
      name -> (if (ok.size == 3) ok.min else -1.0)
    }.toMap
    val qs = results.toSeq.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val raw = rawTimes.sortBy(_._1).map { case (k, ts) =>
      s"\"" + k + "\":" + ts.map(_.fold("-1.0")(fmt)).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val canaryJson = canaries.map(fmt).mkString("[", ",", "]")
    val discardedJson = discardedCanaries.map(fmt).mkString("[", ",", "]")
    val compilesJson = sweepCompiles.mkString("[", ",", "]")
    // Floor detection on the MIN canary: the per-query min already
    // survives a one-sweep load window (that is what interleaving is for);
    // the record is corrupted only when every sweep ran slow — i.e. the
    // BEST canary is still >1.5x the idle reference.
    val canaryLoaded = canaries.nonEmpty && canaries.min > 1.5 * CanaryRef
    // Drift detection, ORTHOGONAL to the floor: a monotone-rising canary
    // (e.g. [0.14, 0.33, 0.52] — load arriving mid-run) passes the floor
    // rule because sweep 1 was clean, yet sweeps 2-3 are inflated; the
    // per-query min-of-3 usually absorbs it (each query keeps its clean
    // sweep), but the record should say so machine-readably instead of
    // relying on a reader to eyeball the canary array. Rule: max/min > 2
    // across the sweeps ⇒ canary_drift — totals remain usable (mins), raw
    // per-sweep deltas do not.
    val canaryDrift = canaries.nonEmpty && canaries.max > 2.0 * canaries.min
    // the headline total sums only SUCCEEDED queries — summing the -1.0
    // failure markers would make a failed query LOWER the total, reading
    // as a phantom improvement; the failure list rides alongside so the
    // record (and tools/round_bench.sh) can gate on it machine-readably
    val failed = results.collect { case (n, t) if t < 0 => n }.toSeq.sorted
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.values.filter(_ >= 0).sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","canary":$canaryJson,"canary_ref":$CanaryRef,"canary_loaded":$canaryLoaded,"canary_drift":$canaryDrift,"canary_retries":$canaryRetries,"canary_sweep_loaded":$canarySweepLoaded,"drift_reruns":$driftReruns,"canary_discarded":$discardedJson,"failed":$failedJson,"cpus":$cpus}"""
    println(line)
    if (canaryLoaded)
      System.err.println(s"[bench] WARNING: canary drift >1.5x reference " +
        s"($canaryJson vs $CanaryRef s) — host was loaded during this run; " +
        "per-query numbers are not comparable, rerun on an idle host")
    else if (canaryDrift)
      System.err.println(s"[bench] WARNING: canary drifted >2x across sweeps " +
        s"($canaryJson) — load arrived mid-run; min-of-3 totals hold, raw " +
        "per-sweep times are not comparable")
    // Self-contained artifact: the driver records the stdout TAIL, which
    // truncates ~30 of the per-query times out of the record (BENCH_r06:
    // parsed=null). The full min-of-N map — plus the raw per-sweep times
    // and the canary record, the audit trail that distinguishes a loaded
    // host from a real regression without a re-run — is therefore also
    // written to a JSON file with a stable schema
    // {metric,value,unit,sweeps,queries,raw,canary,canary_ref,canary_loaded,
    //  canary_drift,canary_retries,canary_sweep_loaded,drift_reruns,
    //  canary_discarded,codegen_compiles,failed,cpus,sf},
    // queries sorted by name. Path override: SPARK_GRAFT_BENCH_REPORT.
    val reportPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPORT", "bench_report.json")
    try {
      val report =
        s"""{"metric":"total","value":$total,"unit":"sec","sweeps":3,"queries":$qs,"raw":$raw,"canary":$canaryJson,"canary_ref":$CanaryRef,"canary_loaded":$canaryLoaded,"canary_drift":$canaryDrift,"canary_retries":$canaryRetries,"canary_sweep_loaded":$canarySweepLoaded,"drift_reruns":$driftReruns,"canary_discarded":$discardedJson,"codegen_compiles":$compilesJson,"failed":$failedJson,"cpus":$cpus,"sf":"$sfDir"}"""
      java.nio.file.Files.writeString(java.nio.file.Paths.get(reportPath), report + "\n")
      System.err.println(s"[bench] full per-query report written to $reportPath")
    } catch {
      case e: Throwable => // the stdout line above remains the fallback record
        System.err.println(s"[bench] could not write $reportPath: ${e.getMessage}")
    }
    spark.stop()
  }
}
