package perfbench

import graft.sources.vgsi.VgsiParser
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val city = VgsiCity(seed = 7, size = 400)

  test("the generator is deterministic per seed") {
    val again = VgsiCity(seed = 7, size = 400)
    assert(city.invalidPids == again.invalidPids)
    assert(city.pids.forall(p => city.html(p, 0) == again.html(p, 0)))
    assert((1 to 4).forall(r => DriftPlan(city).changed(r) == DriftPlan(again).changed(r)))
    val other = VgsiCity(seed = 8, size = 400)
    assert(city.pids.exists(p => city.html(p, 0) != other.html(p, 0)))
    assert(DriftPlan(city).changed(1) != DriftPlan(other).changed(1))
  }

  test("every valid page parses to its declared row counts, filling all eight tables") {
    val totals = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    city.validPids.foreach { pid =>
      val r = VgsiParser.parse(city.html(pid, 0), pid)
      val got = Map(
        "properties" -> 1,
        "buildings" -> r.buildings.size,
        "sub_areas" -> r.buildings.map(_.sub_areas.size).sum,
        "ownership" -> r.ownership.size,
        "appraisals" -> r.appraisals.size,
        "assessments" -> r.assessments.size,
        "extra_features" -> r.extra_features.size,
        "outbuildings" -> r.outbuildings.size)
      assert(got == city.rowCounts(pid), s"pid $pid")
      got.foreach { case (t, n) => totals(t) += n }
    }
    assert(totals.size == 8 && totals.values.forall(_ > 0))
    assert(city.validPids.map(city.buildingCount).distinct.size >= 3, "building counts vary per page")
    assert(city.invalidPids.nonEmpty)
    city.invalidPids.foreach { pid =>
      assertThrows[graft.ingest.InvalidEntryException](VgsiParser.parse(city.html(pid, 0), pid))
    }
  }

  test("a drifted page changes exactly the drifted tables") {
    city.validPids.take(50).foreach { pid =>
      val a = VgsiParser.parse(city.html(pid, 0), pid)
      val b = VgsiParser.parse(city.html(pid, 3), pid)
      assert(a.property != b.property)
      assert(a.appraisals != b.appraisals && a.assessments != b.assessments)
      assert(a.buildings == b.buildings && a.ownership == b.ownership)
      assert(a.extra_features == b.extra_features && a.outbuildings == b.outbuildings)
    }
    assert(VgsiCity.DriftedTables == Set("properties", "appraisals", "assessments"))
  }

  test("drift and revert sets follow the count law") {
    val plan = DriftPlan(city)
    assert(plan.perRound == math.round(DriftPlan.Rate * city.validPids.size).toInt)
    assert(plan.changed(0).isEmpty && plan.touched(1) == plan.changed(1))
    (1 to 6).foreach { r =>
      val now = plan.changed(r)
      assert(now.size == plan.perRound)
      assert(now.subsetOf(city.validPids.toSet))
      assert((now & plan.changed(r - 1)).isEmpty, "a page never drifts two rounds running")
      assert(plan.reverted(r) == plan.changed(r - 1))
      assert(plan.touched(r).size == now.size + plan.changed(r - 1).size)
      val writes = plan.expectedWrites(r)
      assert(writes("properties") == plan.touched(r).size)
      assert(writes("appraisals") == plan.touched(r).toSeq.map(city.valuationYears(_).toLong).sum)
      val fetch = plan.fetch(r)
      city.validPids.take(100).foreach { pid =>
        assert(fetch("", pid) == city.html(pid, if (now(pid)) r else 0))
      }
    }
  }

  test("expected history versions count drifts and reverts") {
    val plan = DriftPlan(city)
    val pid = plan.changed(2).head
    assert(RefreshCycle.expectedVersions(plan, pid, 1) == 1 + (if (plan.changed(1)(pid)) 1 else 0))
    assert(RefreshCycle.expectedVersions(plan, pid, 2) == 2) // base, drift at 2
    assert(RefreshCycle.expectedVersions(plan, pid, 3) == 3 + (if (plan.changed(3)(pid)) 1 else 0)) // revert at 3
  }

  test("Zipf draws are skewed toward low ranks and stay in range") {
    val z = new Rng.Zipf(1000, 1.1)
    val draws = (0 until 5000).map(i => z.draw(Rng.unit(3, i)))
    assert(draws.forall(d => d >= 0 && d < 1000))
    assert(draws.count(_ < 10) > draws.count(d => d >= 500 && d < 510) * 5)
  }

  test("result hashes ignore row order") {
    val spark = TestSpark.session
    import spark.implicits._
    val a = Seq((1, "x", 0.1 + 0.2), (2, "y", 3.0)).toDF("id", "s", "d")
    val b = Seq((2, "y", 3.0), (1, "x", 0.3)).toDF("id", "s", "d")
    assert(ResultHash(a) == ResultHash(b))
    assert(ResultHash(a)._1 == 2)
    assert(ResultHash(a) != ResultHash(Seq((1, "x", 0.3)).toDF("id", "s", "d")))
  }
}
