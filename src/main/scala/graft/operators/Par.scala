package graft.operators

import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.concurrent.{Await, Future, blocking}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal

/** Parallelism/materialization helpers shared by the operator library.
  *
  * Two measured local[32]-and-cluster failure modes, one fix each:
  *
  *  1. '''Duplicated materialization of a shared frame (AQE stage race).'''
  *     Operators persist a frame both sides of a self-join read (the
  *     fingerprint table, the gram index) so the heavy scan expression runs
  *     once — but a LAZY persist only dedupes SEQUENTIAL readers. AQE
  *     submits a join's child stages CONCURRENTLY; both stages start before
  *     either has populated the cache, each misses per-partition, and the
  *     heaviest scan in the plan (image decode, per-shingle md5) runs once
  *     per side anyway (measured at sf0.1: q105's two sides each paid the
  *     full 5.2 s render+decode+hash stage back to back). [[eager]]
  *     materializes the cache with one count() action BEFORE the consumer
  *     plan is handed back, so every later stage — concurrent or not —
  *     reads blocks. The count job itself re-reads nothing downstream
  *     cares about: both sides were going to read the whole frame anyway,
  *     so the extra action costs one scheduling pass, never a second
  *     compute of the input.
  *
  *  2. '''Under-parallel scans feeding heavy per-row work.''' A scan's
  *     split count is sized to INPUT bytes (`files.maxPartitionBytes`),
  *     not to the work hanging off each row: a small input (one parquet
  *     row group at the test SFs; any sub-split file at a refresh batch)
  *     plans ONE task, and the per-row explode/md5/decode serializes on
  *     one core while the rest idle (measured: q103's whole
  *     normalize+explode+shuffle-write stage was a single 3.2 s task at
  *     32 cores). [[fanOutSmall]] inserts a round-robin repartition to
  *     `defaultParallelism` — but ONLY when the optimizer's size estimate
  *     says the input underfills the cluster's split budget (est·4 <
  *     maxPartitionBytes · defaultParallelism, i.e. the added exchange
  *     moves at most cores·32 MB — trivial by construction). A
  *     corpus-scale input fails the bound and passes through UNTOUCHED:
  *     its scan already carries thousands of splits, and a blanket
  *     repartition there would be a full-input shuffle nobody needs. This
  *     is the guide's "derive partitioning from input size" rule, applied
  *     at the operator entry where the fan-out factor (grams per doc,
  *     pixels per blob) is known to be large.
  */
private[graft] object Par {

  /** Persist `df` and force materialization NOW, so concurrently-submitted
    * consumer stages (AQE) read cache blocks instead of each recomputing
    * the input plan. Lifecycle unchanged from the lazy-persist sites this
    * replaces: blocks are reclaimed by Spark's ContextCleaner once the
    * result plan is unreferenced.
    */
  def eager(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  /** Round-robin fan-out of a SMALL input about to pay heavy per-row work,
    * no-op for corpus-scale inputs (and for streaming frames, whose
    * micro-batch parallelism the source controls). See the class doc for
    * the size bound; `defaultParallelism` tracks the cluster, so the same
    * code is right at local[4], local[32], and a thousand executors.
    */
  def fanOutSmall(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est * 4 < BigInt(maxSplit) * cores) df.repartition(cores) else df
  }

  /** Run independent builds concurrently (each typically ends in a Spark
    * action such as [[eager]]'s count) and return their results in order —
    * all or nothing. Every build's jobs run under ONE job group; the first
    * build to throw cancels that group, current jobs and any the siblings
    * submit later, and this call waits for every build to settle before
    * rethrowing that first failure, so no sibling job outlives the call.
    * `blocking` lets the global pool grow past threads parked in Spark
    * actions instead of starving.
    */
  def allOrCancel[T](spark: SparkSession)(builds: (() => T)*): Seq[T] = {
    val sc = spark.sparkContext
    val group = s"graft-all-or-cancel-${java.util.UUID.randomUUID()}"
    val firstFailure = new AtomicReference[Throwable]()
    val runs = builds.map { build =>
      Future(blocking {
        sc.setJobGroup(group, "concurrent frame builds", interruptOnCancel = true)
        try build()
        catch {
          case NonFatal(e) =>
            if (firstFailure.compareAndSet(null, e)) sc.cancelJobGroupAndFutureJobs(group)
            throw e
        } finally sc.clearJobGroup()
      })
    }
    runs.foreach(Await.ready(_, Duration.Inf))
    Option(firstFailure.get).foreach(e => throw e)
    runs.map(_.value.get.get)
  }

  // Byte-sized re-partitioning of a fanned-out cache regressed
  // q25/q62/q63/q87/q89 +7–13% (OPTIMIZATION_r17.md, "1b. q90").
}
