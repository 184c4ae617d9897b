package graft

import graft.ingest._
import graft.lake.Lake
import graft.scd.Scd
import graft.sources._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** The engine's one-plan batch dedup against its per-table definition:
  * for every table, the rows a batch appends equal
  * `Scd.refreshDedupSnapshot(stamped_t, lake_t, col(identityColumnOf(t)), col("scraped_at"))`
  * computed on its own, and the batch plans that dedup once.
  */
@org.scalatest.tags.Slow
class EngineDedupSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = IngestConfig(workers = 2, checkpoint = false, compactAfter = false)
  private val allTables = Seq("properties", "buildings", "sub_areas", "ownership", "appraisals",
    "assessments", "extra_features", "outbuildings")

  /** An entity with rows in all 8 tables (the outbuilding is optional).
    * `value` drives the property and its ownership row, `appraisal` the
    * appraisals row, `area` the building and its sub-area.
    */
  private def entity(
      pid: Long,
      value: Double = 1000.0,
      appraisal: Double = 100.0,
      area: Double = 2000.0,
      outbuilding: Boolean = true
  ): ScrapeResult = {
    val base = FakeSource.prop(pid, s"Owner$pid", value)
    base.copy(
      buildings = base.buildings.map(b => b.copy(building_area = Some(area),
        sub_areas = b.sub_areas.map(s => if (s.code.nonEmpty) s.copy(gross_area = Some(area)) else s))),
      appraisals = Seq(Valuation(Some("2024"), Some(appraisal), Some(50.0), Some(appraisal + 50.0))),
      assessments = Seq(Valuation(Some("2024"), Some(70.0), Some(35.0), Some(105.0))),
      extra_features = Seq(Feature(Some("FPL"), None, Some("fireplace"), Some(500.0))),
      outbuildings = if (outbuilding) Seq(Feature(Some("SHD"), None, Some("shed"), Some(900.0))) else Nil
    )
  }

  private def snapshot(root: String, scope: String): Map[String, DataFrame] =
    Lake.tables(spark, root, scope).map(t => t -> Lake.read(spark, root, scope, t).localCheckpoint()).toMap

  /** Loads `batch` over the lake, checks every table's appended rows against
    * the per-table dedup, and returns the pids each table appended.
    */
  private def loadAndCompare(root: String, scope: String, batch: Map[Long, ScrapeResult]): Map[String, Set[Long]] = {
    val before = snapshot(root, scope)
    val stats = Engine.runLoad(spark, new FakeSource(batch), batch.keys.toSeq, root, scope, cfg)
    val after = snapshot(root, scope)
    val flat = Flatten.flatten(spark.createDataset(batch.values.toSeq), Some(scope))
    allTables.map { t =>
      val stamped = Lake.stampMetadata(flat(t), new java.sql.Timestamp(0L))
      val expected = before.get(t) match {
        case Some(lake) =>
          Scd.refreshDedupSnapshot(stamped, lake, col(Flatten.identityColumnOf(t)), col("scraped_at"))
        case None => stamped
      }
      val appended = after.get(t).fold(expected.limit(0)) { a =>
        before.get(t).fold(a)(b => a.exceptAll(b))
      }
      val got = appended.drop("scraped_at").collect().toSeq
      val want = expected.drop("scraped_at").collect().toSeq
      assert(got.map(_.toString).sorted == want.map(_.toString).sorted, s"table $t")
      assert(stats.rowsWritten.getOrElse(t, 0L) == want.size.toLong, s"rowsWritten($t)")
      t -> got.map(r => r.getLong(r.fieldIndex("pid"))).toSet
    }.toMap
  }

  test("one dedup plan appends exactly what the per-table snapshot dedup keeps") {
    val root = tmpDir("lake_dedup")
    val a = (1L to 5L).map(p => p -> entity(p)).toMap - 4L
    Engine.runLoad(spark, new FakeSource(a), a.keys.toSeq, root, "d", cfg)
    // pid 3 moves to B so the batch below reverts it
    val b = a + (3L -> entity(3L, value = 3333.0, appraisal = 333.0))
    Engine.runLoad(spark, new FakeSource(b), b.keys.toSeq, root, "d", cfg)
    assert(Lake.tables(spark, root, "d").toSet == allTables.toSet)

    val batch = a ++ Map(
      1L -> entity(1L, appraisal = 111.0), // appraisals only
      2L -> entity(2L, area = 2222.0), // buildings + sub_areas only
      4L -> entity(4L) // new
    ) // 3 reverts B -> A, 5 is unchanged
    val written = loadAndCompare(root, "d", batch)
    assert(written == Map(
      "properties" -> Set(3L, 4L),
      "buildings" -> Set(2L, 4L),
      "sub_areas" -> Set(2L, 4L),
      "ownership" -> Set(3L, 4L),
      "appraisals" -> Set(1L, 3L, 4L),
      "assessments" -> Set(4L),
      "extra_features" -> Set(4L),
      "outbuildings" -> Set(4L)
    ))
  }

  test("a table absent from the lake before the batch is written whole") {
    val root = tmpDir("lake_new_table")
    val a = (1L to 2L).map(p => p -> entity(p, outbuilding = false)).toMap
    Engine.runLoad(spark, new FakeSource(a), a.keys.toSeq, root, "n", cfg)
    assert(!Lake.tables(spark, root, "n").contains("outbuildings"))
    // pid 1 gains an outbuilding (its other tables unchanged), pid 3 is new
    val batch = a ++ Map(1L -> entity(1L), 3L -> entity(3L))
    val written = loadAndCompare(root, "n", batch)
    assert(written("outbuildings") == Set(1L, 3L))
    assert(written("properties") == Set(3L))
  }

  test("a refresh batch plans its dedup once and scrapes each valid id once") {
    val root = tmpDir("lake_once")
    val data = (1L to 6L).map(p => p -> entity(p)).toMap
    Engine.runLoad(spark, new FakeSource(data), data.keys.toSeq, root, "o", cfg)
    val plans = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    // pid 1 changes, pid 6 turns invalid: 5 valid ids. The photo hook reads
    // the scrape as well as the dedup does, so a deduped batch persisted
    // ahead of the scrape's cache would scrape a second time.
    val changed = new FakeSource(data + (1L -> entity(1L, value = 1111.0)), invalidFor = Set(6L)) {
      override def photoItems: Option[ScrapeResult => Seq[(String, Long)]] =
        Some(r => Seq(s"http://host/photos/${r.property.pid}.jpg" -> r.property.pid))
      override def fetchPhoto(url: String): Array[Byte] = url.getBytes("UTF-8")
    }
    spark.listenerManager.register(listener)
    val stats =
      try {
        val s = Engine.runRefresh(spark, changed, root, "o", cfg.copy(photoDir = Some(tmpDir("photos"))))
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        s
      } finally spark.listenerManager.unregister(listener)
    assert(stats.scraped == 5L && stats.invalid == 1L, s"the scrape ran more than once: $stats")
    assert(stats.rowsWritten("properties") == 1L && stats.rowsWritten("ownership") == 1L)
    val dedups = plans.toArray.count(_.toString.contains("__rd_key"))
    assert(dedups == 1, s"$dedups SQL executions carry __rd_key in one refresh batch")
  }

  test("IngestStats reports the run's wall time and entries per second") {
    val root = tmpDir("lake_wall")
    val data = (1L to 3L).map(p => p -> entity(p)).toMap
    val s = Engine.runLoad(spark, new FakeSource(data), data.keys.toSeq, root, "w", cfg)
    assert(s.wallSeconds > 0.0)
    assert(s.entriesPerSecond == s.scraped / s.wallSeconds)
  }
}
