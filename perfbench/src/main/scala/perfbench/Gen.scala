package perfbench

/** Seeded, stateless randomness: every draw is a pure function of
  * (seed, salt...), so any page or row can be regenerated in any order,
  * on any thread, and the same seed always gives the same inputs.
  */
object Rng {
  private def splitmix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def mix(xs: Long*): Long = xs.foldLeft(0x243F6A8885A308D3L)((h, x) => splitmix(h ^ splitmix(x)))
  /** Uniform in [0, 1). */
  def unit(xs: Long*): Double = (mix(xs: _*) >>> 11).toDouble / (1L << 53).toDouble
  def below(n: Int, xs: Long*): Int = (unit(xs: _*) * n).toInt

  /** Zipf(s) rank in [0, n): inverse-CDF draw over precomputed weights. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def draw(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
}

/** A generated VGSI city: `size` parcel pages with pids `1..size`.
  *
  * A seeded share of pids are invalid (the VGSI error form). Every valid
  * page fills all eight lake tables, and the per-page counts of buildings,
  * sub-areas, sales, valuation years, extra features and outbuildings vary
  * with the page. `variant` is the page's content version: 0 is the base
  * page, and a drifted page (variant > 0) changes its owner, its
  * assessment and appraisal totals, and its latest valuation-year rows.
  * The properties, appraisals and assessments tables change with it; the
  * other five tables do not.
  */
final case class VgsiCity(seed: Long, size: Int) {
  import VgsiCity._

  val pids: IndexedSeq[Long] = (1L to size.toLong).toIndexedSeq
  def isInvalid(pid: Long): Boolean = Rng.unit(seed, pid, 1) < InvalidRate
  lazy val validPids: IndexedSeq[Long] = pids.filterNot(isInvalid)
  lazy val invalidPids: IndexedSeq[Long] = pids.filter(isInvalid)

  def buildingCount(pid: Long): Int = {
    val u = Rng.unit(seed, pid, 2)
    if (u < 0.6) 1 else if (u < 0.85) 2 else if (u < 0.95) 3 else 4 + Rng.below(3, seed, pid, 3)
  }
  def subAreaCount(pid: Long, bid: Int): Int = 1 + Rng.below(3, seed, pid, 4, bid)
  def salesCount(pid: Long): Int = 1 + Rng.below(4, seed, pid, 5)
  def valuationYears(pid: Long): Int = 2 + Rng.below(4, seed, pid, 6)
  def featureCount(pid: Long): Int = Rng.below(4, seed, pid, 7)
  def outbuildingCount(pid: Long): Int = Rng.below(3, seed, pid, 8)

  /** Rows each lake table receives from one valid page. */
  def rowCounts(pid: Long): Map[String, Int] = {
    val b = buildingCount(pid)
    Map(
      "properties" -> 1,
      "buildings" -> b,
      "sub_areas" -> (0 until b).map(subAreaCount(pid, _)).sum,
      "ownership" -> salesCount(pid),
      "appraisals" -> valuationYears(pid),
      "assessments" -> valuationYears(pid),
      "extra_features" -> featureCount(pid),
      "outbuildings" -> outbuildingCount(pid)
    )
  }

  private def money(x: Long): String = f"$$$x%,d"

  def html(pid: Long, variant: Int): String = {
    if (isInvalid(pid))
      return s"""<html><form id="form1" action="./Error.aspx?Message=There+was+an+error+loading+the+parcel."></form></html>"""
    val r = (salt: Long) => Rng.mix(seed, pid, salt)
    val base = 150000L + math.floorMod(r(10), 900000L)
    val drift = if (variant == 0) 0L else 1000L * variant + math.floorMod(Rng.mix(seed, pid, 11, variant), 5000L)
    val assessment = base * 7 / 10 + drift
    val appraisal = base + drift
    val owner = if (variant == 0) s"OWNER $pid" else s"OWNER $pid V$variant"
    val street = Streets(math.floorMod(r(12), Streets.length.toLong).toInt)
    val sb = new StringBuilder(4096)
    sb ++= s"""<html><body><form id="form1" action="./Parcel.aspx">
      |<span id="lblTownName">Benchville</span>
      |<span id="MainContent_lblPid">$pid</span>
      |<span id="MainContent_lblAcctNum">A$pid</span>
      |<span id="MainContent_lblMblu">${pid % 97}/ ${pid % 13}/ $pid/ /</span>
      |<span id="MainContent_lblLocation">${1 + pid % 400} $street</span>
      |<span id="MainContent_lblGenOwner">$owner</span>
      |<span id="MainContent_lblAddr1">${1 + pid % 90} MAIN ST</span>
      |<span id="MainContent_lblPrice">${money(base + 20000)}</span>
      |<span id="MainContent_lblSaleDate">0${1 + pid % 9}/1${pid % 9}/20${10 + pid % 14}</span>
      |<span id="MainContent_lblGenAssessment">${money(assessment)}</span>
      |<span id="MainContent_lblGenAppraisal">${money(appraisal)}</span>
      |<span id="MainContent_lblBldCount">${buildingCount(pid)}</span>
      |<span id="MainContent_lblUseCode">10${pid % 10}</span>
      |<span id="MainContent_lblZone">R${1 + pid % 4}</span>
      |<span id="MainContent_lblLndAcres">${0.1 + (pid % 50) / 10.0}</span>
      |<span id="MainContent_lblZip">06${100 + pid % 800}</span>
      |""".stripMargin
    (0 until buildingCount(pid)).foreach { b =>
      val p = f"MainContent_ctl${b + 2}%02d"
      sb ++= s"""<span id="${p}_lblYearBuilt">${1900 + math.floorMod(r(20 + b), 120L)}</span>
        |<span id="${p}_lblBldArea">${money(800 + math.floorMod(r(30 + b), 4000L)).drop(1)}</span>
        |<span id="${p}_lblRcn">${money(90000 + math.floorMod(r(40 + b), 400000L))}</span>
        |<span id="${p}_lblPctGood">${50 + math.floorMod(r(50 + b), 50L)}</span>
        |<table id="${p}_grdCns"><tr><td>Style:</td><td>${Styles(math.floorMod(r(60 + b), Styles.length.toLong).toInt)}</td></tr>
        |<tr><td>Heat Type:</td><td>Forced Air</td></tr><tr><td>Roof Cover:</td><td>Asphalt</td></tr></table>
        |<table id="${p}_grdSub"><tr><th>Code</th><th>Description</th><th>Gross Area</th><th>Living Area</th></tr>
        |""".stripMargin
      (0 until subAreaCount(pid, b)).foreach { s =>
        val g = 200 + math.floorMod(Rng.mix(seed, pid, 70, b, s), 2000L)
        sb ++= s"<tr><td>${SubCodes(s)}</td><td>Area $s</td><td>$g</td><td>${g / 2}</td></tr>\n"
      }
      sb ++= "<tr><td></td><td>Total</td><td>0</td><td>0</td></tr></table>\n"
    }
    sb ++= "<table id=\"MainContent_grdSales\"><tr><th>Owner</th><th>Sale Price</th><th>Sale Date</th><th>Book &amp; Page</th></tr>\n"
    (0 until salesCount(pid)).foreach { k =>
      sb ++= s"<tr><td>SELLER $pid-$k</td><td>${money(50000L * (k + 1) + pid)}</td><td>0${1 + k}/01/${2000 + k}</td><td>${100 + k}/$pid</td></tr>\n"
    }
    sb ++= "</table>\n"
    val years = valuationYears(pid)
    Seq("MainContent_grdHistoryValuesAppr" -> appraisal, "MainContent_grdHistoryValuesAsmt" -> assessment)
      .foreach { case (id, latest) =>
        sb ++= s"""<table id="$id"><tr><th>Valuation Year</th><th>Improvements</th><th>Land</th><th>Total</th></tr>\n"""
        (0 until years).foreach { y =>
          val total = if (y == 0) latest else latest - 5000L * y
          sb ++= s"<tr><td>${2024 - y}</td><td>${money(total * 3 / 4)}</td><td>${money(total - total * 3 / 4)}</td><td>${money(total)}</td></tr>\n"
        }
        sb ++= "</table>\n"
      }
    Seq("MainContent_grdXf" -> featureCount(pid), "MainContent_grdOb" -> outbuildingCount(pid))
      .foreach { case (id, n) =>
        sb ++= s"""<table id="$id"><tr><th>Code</th><th>Description</th><th>Size</th><th>Value</th></tr>\n"""
        if (n == 0) sb ++= "<tr><td>No Data for Extra Features</td></tr>\n"
        (0 until n).foreach { k =>
          sb ++= s"<tr><td>${FeatureCodes(k)}</td><td>Feature $k</td><td>${10 * (k + 1)}</td><td>${money(500L * (k + 1) + pid % 100)}</td></tr>\n"
        }
        sb ++= "</table>\n"
      }
    sb ++= "</form></body></html>"
    sb.toString
  }
}

object VgsiCity {
  val InvalidRate = 0.03
  val Streets: IndexedSeq[String] = IndexedSeq("ELM ST", "OAK AVE", "MAPLE RD", "PINE LN", "CEDAR CT", "BIRCH WAY")
  val Styles: IndexedSeq[String] = IndexedSeq("Colonial", "Cape Cod", "Ranch", "Victorian", "Contemporary")
  val SubCodes: IndexedSeq[String] = IndexedSeq("BAS", "FOP", "UBM")
  val FeatureCodes: IndexedSeq[String] = IndexedSeq("FPL", "SHD", "PAT")

  /** Tables whose rows a drifted page changes. */
  val DriftedTables: Set[String] = Set("properties", "appraisals", "assessments")
}

/** Drift and revert sets over a city's valid pages. Round `r >= 1` changes
  * a seeded [[DriftPlan.Rate]] share of valid pages to variant `r`, drawn from pages
  * that did not change in round `r - 1`; the pages changed in round `r - 1`
  * revert to their base content. Round 0 is the initial load.
  */
final case class DriftPlan(city: VgsiCity) {
  val perRound: Int = math.max(1, math.round(DriftPlan.Rate * city.validPids.size).toInt)

  private val memo = scala.collection.mutable.Map[Int, Set[Long]](0 -> Set.empty[Long])
  def changed(round: Int): Set[Long] = memo.getOrElseUpdate(round, {
    val prev = changed(round - 1)
    city.validPids.filterNot(prev)
      .sortBy(pid => Rng.mix(city.seed, 0x5eedL, round, pid))
      .take(perRound).toSet
  })
  def reverted(round: Int): Set[Long] = if (round <= 0) Set.empty else changed(round - 1)

  /** Pages whose content differs from the previous round's. */
  def touched(round: Int): Set[Long] = changed(round) ++ reverted(round)

  /** Exact rows a refresh of round `r` must write per table. */
  def expectedWrites(round: Int): Map[String, Long] = {
    val counts = touched(round).toSeq.map(city.rowCounts)
    VgsiCity.DriftedTables.map(t => t -> counts.map(_(t).toLong).sum).toMap
  }

  /** The page fetch function as seen in `round`: a plain serialisable
    * closure over the city and that round's changed set.
    */
  def fetch(round: Int): (String, Long) => String = {
    val c = city
    val now = changed(round)
    (_, pid) => c.html(pid, if (now(pid)) round else 0)
  }
}

object DriftPlan {
  val Rate = 0.05
}
