package perfbench

import graft.ingest.Source
import graft.sources.ScrapeResult
import org.apache.spark.util.{CollectionAccumulator, LongAccumulator}

/** Accumulators the traced run's source wrappers add to. */
final case class SourceCounters(
    scrapeCalls: LongAccumulator,
    scrapeNs: LongAccumulator,
    fetchNs: LongAccumulator,
    rowsFlattened: LongAccumulator,
    scrapeStages: CollectionAccumulator[Int]
)

object SourceCounters {
  def apply(sc: org.apache.spark.SparkContext): SourceCounters = SourceCounters(
    sc.longAccumulator("perfbench.scrape_calls"),
    sc.longAccumulator("perfbench.scrape_ns"),
    sc.longAccumulator("perfbench.fetch_ns"),
    sc.longAccumulator("perfbench.rows_flattened"),
    sc.collectionAccumulator[Int]("perfbench.scrape_stages"))

  /** Rows one scrape result fans out to across the eight lake tables, with
    * the sub-area footer rows that flattening drops left out.
    */
  def rowsOf(r: ScrapeResult): Long =
    1L + r.buildings.size + r.buildings.map(_.sub_areas.count(s => s.code != null && s.code.nonEmpty)).sum +
      r.ownership.size + r.appraisals.size + r.assessments.size + r.extra_features.size + r.outbuildings.size
}

/** Times the page fetch function the benchmark hands to the source. */
final case class TimedFetch(inner: (String, Long) => String, c: SourceCounters) extends ((String, Long) => String) {
  def apply(base: String, pid: Long): String = {
    val t0 = System.nanoTime()
    try inner(base, pid) finally c.fetchNs.add(System.nanoTime() - t0)
  }
}

/** Times every `scrapeOne` (fetch plus parse) and counts what it yields. */
final case class TimedSource(inner: Source, c: SourceCounters) extends Source {
  override def name: String = inner.name
  override def entryIdSource: (String, String) = inner.entryIdSource
  override def ratePerSec: Double = inner.ratePerSec
  override def maxRetries: Int = inner.maxRetries
  override def scrapeOne(entryId: Long): ScrapeResult = {
    val t0 = System.nanoTime()
    try {
      val r = inner.scrapeOne(entryId)
      c.rowsFlattened.add(SourceCounters.rowsOf(r))
      r
    } finally {
      c.scrapeNs.add(System.nanoTime() - t0)
      c.scrapeCalls.add(1)
      Option(org.apache.spark.TaskContext.get()).foreach(t => c.scrapeStages.add(t.stageId()))
    }
  }
}
