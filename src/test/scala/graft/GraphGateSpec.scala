package graft

import graft.operators.Graph
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Both sides of [[Graph.connectedComponents]]'s size gate: the driver-local
  * union-find (edge rows ≤ maxDriverEdges) and the distributed star rounds
  * (maxDriverEdges = 0, or one row over the cap) must return the same
  * (id, component) frame — rows, column names and types — for integral,
  * string (hash-mapped) and fractional ids alike.
  */
@org.scalatest.tags.Slow
class GraphGateSpec extends SparkSpec {
  import spark.implicits._

  private val cap = 40

  /** Edges over ids 0..29 with every shape the gate must agree on:
    * self-loops, half-null edges (one whose survivor has no other edge),
    * duplicates and reversed duplicates.
    */
  private val edges: Seq[(Option[Long], Option[Long])] = {
    val rnd = new scala.util.Random(7)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Option[Long], Option[Long])]
    for (i <- 0 until 2 * cap) {
      val (a, b) = (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)
      out += (i % 8 match {
        case 1 => (Some(a), Some(a))
        case 3 => (Some(a), None)
        case 5 => (None, Some(100L + i))
        case 6 => out(i - 2).swap
        case 7 => out(i - 7)
        case _ => (Some(a), Some(b))
      })
    }
    out.toSeq
  }

  /** The shortest prefix of [[edges]] that puts exactly `n` rows in front
    * of the gate. The integral path gates on every row; the hash-mapped
    * path drops half-null edges before the gate, so only full edges count.
    */
  private def prefix(n: Int, halfNullsCount: Boolean): Seq[(Option[Long], Option[Long])] = {
    val gated = edges.map { case (a, b) => halfNullsCount || (a.nonEmpty && b.nonEmpty) }
    val len = gated.scanLeft(0)((c, g) => if (g) c + 1 else c).indexOf(n)
    assert(len >= 0, s"fixture too short for $n gated edges")
    edges.take(len)
  }

  /** (regime, edge frame of n gated rows, the row the half-null edge's
    * lone survivor — id 105 — must become, where the regime has one)
    */
  private val regimes: Seq[(String, Int => DataFrame, Option[Row])] = Seq(
    ("integral", n => prefix(n, halfNullsCount = true).toDF("s", "d"), Some(Row(105L, 105L))),
    ("integral, non-null", n => prefix(n, halfNullsCount = false)
      .collect { case (Some(a), Some(b)) => (a, b) }.toDF("s", "d"), None),
    ("string", n => prefix(n, halfNullsCount = false)
      .map { case (a, b) => (a.map(x => s"n$x"), b.map(x => s"n$x")) }.toDF("s", "d"),
      Some(Row("n105", "n105"))),
    ("fractional", n => prefix(n, halfNullsCount = false)
      .map { case (a, b) => (a.map(_ + 0.5), b.map(_ + 0.5)) }.toDF("s", "d"),
      Some(Row("105.5", "105.5"))))

  private def components(df: DataFrame, maxDriverEdges: Int): (String, Set[Row], Int) = {
    val out = Graph.connectedComponents(df, "s", "d", maxDriverEdges = maxDriverEdges)
    (out.schema.toDDL, out.collect().toSet, Graph.lastRounds)
  }

  test("driver path and distributed rounds agree at cap-1, cap and cap+1 edges") {
    for ((regime, build, lone) <- regimes; n <- Seq(cap - 1, cap, cap + 1)) {
      val (wantSchema, want, rounds) = components(build(n), 0)
      assert(rounds > 0, s"$regime n=$n: maxDriverEdges=0 must run the star rounds")
      val (gotSchema, got, gatedRounds) = components(build(n), cap)
      assert((gatedRounds == 0) == (n <= cap), s"$regime n=$n: wrong side of the gate")
      assert(gotSchema == wantSchema, s"$regime n=$n")
      assert(got == want, s"$regime n=$n: ${got.diff(want)} vs ${want.diff(got)}")
      lone.foreach(r => assert(got.contains(r), s"$regime n=$n: half-null survivor lost"))
    }
  }

  test("the caller's edge plan is evaluated exactly once on each side of the gate") {
    val n = 60
    for (maxDriverEdges <- Seq(n, n - 1, 0)) {
      val evals = spark.sparkContext.longAccumulator
      val tick = udf { (x: Long) => evals.add(1); x }.asNondeterministic()
      val input = spark.range(0, n, 1, 3).select(tick($"id").as("s"), ($"id" * 7 % 23).as("d"))
      Graph.connectedComponents(input, "s", "d", maxDriverEdges = maxDriverEdges).collect()
      assert(evals.value == n, s"maxDriverEdges=$maxDriverEdges: ${evals.value} row evaluations")
      assert((Graph.lastRounds == 0) == (maxDriverEdges >= n))
    }
  }
}
