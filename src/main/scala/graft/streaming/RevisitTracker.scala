package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Streaming twin of [[graft.operators.WebIntake.revisitSchedule]] — the
  * continuous form of recrawl scheduling: as fetch results stream in, the
  * per-URL change statistics and the due time update incrementally via
  * `mapGroupsWithState`, instead of recomputing the whole history each
  * planning round (the StatefulSessions / incremental-dedup pattern:
  * batch operator for the backfill, stateful stream for the live path).
  *
  * State per URL is O(1) — (first, last, lastDigest, nFetches, nChanges) —
  * so state size is |tracked URLs|, not |fetches|: exactly what a
  * long-running crawler wants (the full fetch log lives in the lake; the
  * scheduler carries only sufficient statistics). Output mode is Update:
  * each micro-batch emits the CURRENT schedule row for every URL it
  * touched; the consumer upserts into its due-queue.
  *
  * Fetch identity is (url, tsMs, digest) — a redelivered record (same
  * triple) is a no-op, so the tracker is idempotent under at-least-once
  * delivery (the UrlOps.canonicalUrlProbeDedup redelivery contract). A fetch
  * arriving OUT OF ORDER under the batch operator's (ts, digest) total
  * order — strictly older ts, or equal ts with a digest that sorts before
  * the state's last — is dropped and counted nowhere: change detection is
  * a comparison against the previous digest IN ORDER, and an out-of-order
  * insert would poison both neighbors' verdicts; batch-side
  * [[graft.operators.WebIntake.revisitSchedule]] over the lake's full log
  * is the authority a late straggler eventually reaches (run it on
  * backfill; this tracker serves the live queue). Within a micro-batch,
  * events sort by (ts, digest) — the batch operator's exact order — so
  * stream and batch agree on every history delivered in non-decreasing
  * (ts, digest) order across micro-batches, equal timestamps included
  * (parity spec-pinned in RevisitTrackerSpec).
  */
object RevisitTracker {

  final case class Fetch(url: String, tsMs: Long, digest: String)
  final case class TrackState(
      firstMs: Long,
      lastMs: Long,
      lastDigest: String,
      nFetches: Long,
      nChanges: Long)
  final case class Schedule(
      url: String,
      n_fetches: Long,
      n_changes: Long,
      interval_ms: Long,
      next_fetch_ms: Long,
      if_unchanged: Boolean)

  /** Incremental schedule stream (works identically on a batch Dataset —
    * Spark runs mapGroupsWithState per group with empty initial state, so
    * the parity spec can drive both forms through one body).
    */
  def track(
      fetches: Dataset[Fetch],
      minIntervalMs: Long = 3600L * 1000,
      maxIntervalMs: Long = 7L * 24 * 3600 * 1000
  ): Dataset[Schedule] = {
    require(minIntervalMs > 0 && maxIntervalMs >= minIntervalMs,
      "need 0 < minIntervalMs <= maxIntervalMs")
    import fetches.sparkSession.implicits._
    fetches
      .groupByKey(_.url)
      .mapGroupsWithState[TrackState, Schedule](GroupStateTimeout.NoTimeout) {
        (url: String, it: Iterator[Fetch], state: GroupState[TrackState]) =>
          var s = state.getOption.orNull
          it.toSeq.sortBy(f => (f.tsMs, f.digest)).foreach { f =>
            if (s == null) {
              s = TrackState(f.tsMs, f.tsMs, f.digest, 1L, 0L)
            } else {
              val redelivered = f.tsMs == s.lastMs && f.digest == s.lastDigest
              // "Late" means out-of-order under the batch operator's total
              // order (ts, digest) — including an equal-ts fetch whose
              // digest sorts BEFORE the state's last one: appending it
              // would place it after an event the batch order puts later,
              // skewing n_changes. Dropped events are the batch backfill's
              // to count, same as strictly-older stragglers.
              val late = f.tsMs < s.lastMs ||
                (f.tsMs == s.lastMs && f.digest < s.lastDigest)
              if (!redelivered && !late) {
                val chg = if (f.digest != s.lastDigest) 1L else 0L
                s = TrackState(s.firstMs, f.tsMs, f.digest, s.nFetches + 1, s.nChanges + chg)
              }
            }
          }
          state.update(s)
          val interval =
            if (s.nChanges > 0)
              math.min(
                math.max((s.lastMs - s.firstMs) / s.nChanges, minIntervalMs),
                maxIntervalMs)
            else maxIntervalMs
          Schedule(url, s.nFetches, s.nChanges, interval, s.lastMs + interval,
            s.nFetches >= 2 && s.nChanges == 0)
      }
  }
}
