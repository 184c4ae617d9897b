package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** The repository's layers, named after its modules. */
object Layers {
  val Ingest = "ingest"
  val Sources = "sources"
  val Lake = "lake"
  val Scd = "scd"
  val Operators = "operators"

  private val byPackage = Seq(
    "graft.ingest." -> Ingest,
    "graft.sources." -> Sources,
    "graft.lake." -> Lake,
    "graft.scd." -> Scd,
    "graft.operators." -> Operators,
    "graft.functions." -> Operators
  )

  /** Layer of a Spark job from its long call site: the package of the first
    * repository frame. A job fired by the benchmark's own action (for
    * example the `collect` of an `Scd.history` frame) belongs to the layer
    * of the operation the benchmark was running.
    */
  def hasRepoFrame(callSiteLong: String): Boolean =
    callSiteLong.linesIterator.exists(_.trim.startsWith("graft."))

  def of(callSiteLong: String, spanLayer: String): String =
    callSiteLong.linesIterator.map(_.trim).collectFirst {
      case f if f.startsWith("graft.") || f.startsWith("perfbench.") => f
    } match {
      case Some(frame) => byPackage.collectFirst { case (p, l) if frame.startsWith(p) => l }.getOrElse(spanLayer)
      case None => spanLayer
    }
}

final case class StageStats(
    runMs: Long = 0,
    shuffleWriteBytes: Long = 0,
    spillBytes: Long = 0,
    inputBytes: Long = 0,
    outputBytes: Long = 0
) {
  def +(o: StageStats): StageStats = StageStats(runMs + o.runMs, shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes, inputBytes + o.inputBytes,
    outputBytes + o.outputBytes)
}

final case class JobRec(
    span: Long,
    layer: String,
    callSite: String,
    sqlPlan: String,
    startMs: Long,
    endMs: Long,
    stats: StageStats
)

final case class ScanRec(span: Long, files: Long, bytes: Long)

final case class Span(id: Long, name: String, startMs: Long, endMs: Long) {
  def seconds: Double = (endMs - startMs) / 1e3
}

/** Per-job and per-action records from a benchmark-owned `SparkListener`
  * and `QueryExecutionListener`, grouped under the benchmark's own spans.
  * Everything is kept in memory; [[Trace.close]] detaches the listeners.
  * A `Trace` is only created for traced runs: timed runs register nothing.
  */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val SpanKey = "perfbench.span"

  private val jobStarts = mutable.Map[Int, (Long, String, Long, Seq[Int], Option[Long])]()
  private val stageStats = mutable.Map[Int, StageStats]()
  private val sqlExecs = mutable.Map[Long, (String, String)]() // id -> (call site, physical plan)
  private val pendingScans = mutable.ArrayBuffer[(Long, Long)]()
  val jobs: mutable.ArrayBuffer[JobRec] = mutable.ArrayBuffer()
  val scans: mutable.ArrayBuffer[ScanRec] = mutable.ArrayBuffer()
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  private val spanLayers = mutable.Map[Long, String]()
  private var nextSpan = 1L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val p = Option(e.properties)
      val span = p.flatMap(x => Option(x.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)
      // the job's own result stage carries its call site (stages reused
      // from earlier jobs keep theirs)
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
      val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).map(_.toLong)
      jobStarts(e.jobId) = (e.time, site, span, e.stageIds, exec)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      Option(e.stageInfo.taskMetrics).foreach { m =>
        stageStats(e.stageInfo.stageId) = StageStats(
          runMs = m.executorRunTime,
          shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
          spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
          inputBytes = m.inputMetrics.bytesRead,
          outputBytes = m.outputMetrics.bytesWritten)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStarts.remove(e.jobId).foreach { case (start, site, span, stageIds, exec) =>
        val stats = stageIds.flatMap(stageStats.get).foldLeft(StageStats())(_ + _)
        val (execSite, plan) = exec.flatMap(sqlExecs.get).getOrElse(("", ""))
        // jobs a query runs on helper threads (broadcasts, subqueries) have
        // no repository frame of their own: they take the query's call site
        val effective = if (Layers.hasRepoFrame(site)) site else execSite
        val layer = Layers.of(effective, spanLayers.getOrElse(span, "none"))
        jobs += JobRec(span, layer, effective, plan, start, e.time, stats)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        Trace.this.synchronized { sqlExecs(s.executionId) = (s.details, s.physicalPlanDescription) }
      case _ =>
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val (files, bytes) = Trace.scanMetrics(qe)
      Trace.this.synchronized { pendingScans += ((files, bytes)) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(queryListener)

  /** Run `body` as one span; jobs it fires carry the span id. */
  def span[T](name: String, layer: String)(body: => T): T = {
    val id = synchronized { val i = nextSpan; nextSpan += 1; spanLayers(i) = layer; i }
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id.toString)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      sc.setLocalProperty(SpanKey, prev)
      Trace.drain(spark)
      synchronized {
        spans += Span(id, name, t0, t1)
        pendingScans.foreach { case (f, b) => scans += ScanRec(id, f, b) }
        pendingScans.clear()
      }
    }
  }

  def jobsOf(s: Span): Seq[JobRec] = synchronized(jobs.filter(_.span == s.id).toSeq)
  def scansOf(s: Span): Seq[ScanRec] = synchronized(scans.filter(_.span == s.id).toSeq)
  def spansNamed(p: String => Boolean): Seq[Span] = synchronized(spans.filter(s => p(s.name)).toSeq)

  /** Seconds of `s` covered by at least one of `js`'s intervals. */
  def busySeconds(s: Span, js: Seq[JobRec]): Double = {
    val iv = js.map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    covered / 1e3
  }

  /** Span wall time not covered by any Spark job: planning, listing and
    * other driver-side work between jobs.
    */
  def driverGapSeconds(s: Span): Double = s.seconds - busySeconds(s, jobsOf(s))

  def close(): Unit = {
    Trace.drain(spark)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }
}

object Trace {
  /** Wait until the listener bus has delivered every queued event. */
  def drain(spark: SparkSession): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Files and bytes the action's file scans read, from their SQL metrics. */
  def scanMetrics(qe: QueryExecution): (Long, Long) = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => (other.children ++ other.subqueries).flatMap(walk)
    }
    val scans = walk(qe.executedPlan)
    def metric(f: FileSourceScanExec, k: String) = f.metrics.get(k).map(_.value).getOrElse(0L)
    (scans.map(metric(_, "numFiles")).sum, scans.map(metric(_, "filesSize")).sum)
  }
}
