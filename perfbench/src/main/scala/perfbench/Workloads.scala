package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, sum, xxhash64}

import scala.collection.mutable

/** What one run of a workload measured: `e2e` holds the end-to-end
  * metrics, `detail` the workload's own named figures, and `layers` the
  * per-layer figures of its traced units.
  */
final case class Outcome(e2e: Map[String, Double], detail: Map[String, Double], layers: Map[String, Double])

/** Run state shared by the workloads. */
final class Ctx(val spark: SparkSession, val workDir: String, val dataDir: String, val seed: Long,
    val seconds: Double, val nproc: Int) {
  private var dirs = 0
  def freshDir(tag: String): String = { dirs += 1; s"$workDir/$tag-$dirs" }

  var attempted = 0L
  var failed = 0L
  val mismatches: mutable.ArrayBuffer[String] = mutable.ArrayBuffer()
  def check(ok: Boolean, what: => String): Unit = if (!ok) mismatches += what

  /** One operation: counted as attempted; an exception counts as failed. */
  def op[T](body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        mismatches += s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        None
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      s(lo) + (s(math.ceil(pos).toInt) - s(lo)) * (pos - lo)
    }
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
  /** Times one of a workload's repeating units and logs it to stderr. */
  def unit[T](name: String)(body: => T): (T, Double) = {
    val (r, t) = time(body)
    System.err.println(f"[perfbench] $name%s $t%.3f s")
    (r, t)
  }
}

/** `graft.Bench`'s canary, an xxhash64 sum over a range with one partition
  * per core, sized per core. It runs at the start and end of every run so a
  * loaded host shows beside the record; the timings themselves are raw.
  */
final class Canary(spark: SparkSession, nproc: Int) {
  private def job(): Double = Stats.time {
    spark.range(0, 4000000L * nproc, 1, nproc).select(sum(xxhash64(col("id")))).collect()
  }._2
  job(); job(); job() // compile and warm the job itself
  /** Fastest of three runs. */
  def measure(): Double = Seq(job(), job(), job()).min
}

/** Files of a lake directory tree: (path, bytes) of every parquet part. */
object LakeFiles {
  def list(root: String): Seq[(String, Long)] = {
    val dir = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(dir)) return Nil
    val s = java.nio.file.Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet") && java.nio.file.Files.isRegularFile(p))
        .map(p => p.toString -> java.nio.file.Files.size(p)).toList
    } finally s.close()
  }
}

/** Row count and an order-independent MD5 over a result's rows: columns in
  * name order, values rendered canonically (doubles to 12 significant
  * digits, so a change in summation order does not read as a wrong
  * answer), rows sorted.
  */
object ResultHash {
  def render(v: Any): String = v match {
    case null => "NULL"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else new java.math.BigDecimal(d).round(new java.math.MathContext(12)).stripTrailingZeros.toPlainString
    case f: Float => render(f.toDouble)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case bd: java.math.BigDecimal => bd.stripTrailingZeros.toPlainString
    case x => x.toString
  }

  def apply(df: DataFrame): (Long, String) = {
    val cols = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val rows = df.collect().map(r => cols.map(i => render(r.get(i))).mkString("|")).sorted
    val md5 = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { r => md5.update(r.getBytes("UTF-8")); md5.update('\n'.toByte) }
    (rows.length.toLong, md5.digest().map("%02x".format(_)).mkString)
  }
}

/** Expected analytics results, recorded with the benchmark. */
object Expected {
  def load(): Map[String, (Long, String)] = {
    val in = getClass.getResourceAsStream("/perfbench/analytics_expected.tsv")
    require(in != null, "analytics_expected.tsv is missing from the benchmark's resources")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(q, n, h) = l.split("\t")
      q -> (n.toLong, h)
    }.toMap
    finally src.close()
  }
}
