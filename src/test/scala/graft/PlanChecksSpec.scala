package graft

import graft.plan.PlanChecks
import org.apache.spark.sql.functions._

/** PlanChecks sees what the plan actually contains: shuffles, join
  * strategies, all-pairs traps, scan multiplicity.
  */
class PlanChecksSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("a pure scan-side filter is shuffle-free; a groupBy is not") {
    val ds = spark.range(0, 1000, 1, 8).withColumn("k", $"id" % 10)
    assert(PlanChecks.inspect(ds.filter($"id" > 10)).shuffleFree)
    val agg = PlanChecks.inspect(ds.groupBy($"k").count())
    assert(agg.hashExchanges == 1, agg.render)
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    assert(PlanChecks.inspect(li.filter($"l_quantity" > 10)).shuffleFree)
  }

  test("broadcast vs sort-merge vs nested-loop joins are distinguished") {
    val a = spark.read.parquet(s"$dir/orders.parquet")
    val b = spark.read.parquet(s"$dir/customer.parquet")
    val bhj = PlanChecks.inspect(a.join(broadcast(b), $"o_custkey" === $"c_custkey"))
    assert(bhj.broadcastHashJoins == 1 && bhj.sortMergeJoins == 0, bhj.render)

    val smj = PlanChecks.inspect(
      a.hint("merge").join(b.hint("merge"), $"o_custkey" === $"c_custkey"))
    assert(smj.sortMergeJoins == 1, smj.render)

    val nlj = PlanChecks.inspect(a.join(broadcast(b), $"o_custkey" =!= $"c_custkey"))
    assert(nlj.hasAllPairsJoin, nlj.render)
  }

  test("scan multiplicity: self-join reads the table twice, a single agg once") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val once = PlanChecks.inspect(li.groupBy($"l_orderkey").count())
    assert(once.parquetScans == 1, once.render)
    val twice = li.as("a").join(li.as("b"),
      col("a.l_orderkey") === col("b.l_orderkey") && col("a.l_linenumber") < col("b.l_linenumber"))
    assert(PlanChecks.inspect(twice).parquetScans == 2)
  }

  test("de-hinted TPC-H dim joins still get broadcast shapes from the planner") {
    // q04/q05/q09 carry NO static broadcast() hints (part/supplier/customer
    // grow with sf, so a hint is not bounded by construction); the planner
    // must still pick broadcast at any sf where the dim fits the threshold.
    val q04 = PlanChecks.inspect(SparkEntry.queries("q04_brand_revenue")(spark, dir))
    assert(q04.broadcastHashJoins >= 1 && q04.sortMergeJoins == 0, q04.render)
    // q05's star: supplier/nation/region at minimum ride broadcast
    val q05 = PlanChecks.inspect(SparkEntry.queries("q05_region_revenue")(spark, dir))
    assert(q05.broadcastHashJoins >= 3, q05.render)
    val q09 = PlanChecks.inspect(SparkEntry.queries("q09_topk_customers")(spark, dir))
    assert(q09.broadcastHashJoins >= 1, q09.render)
  }

  test("the engine's own scale-critical queries pass their contracts through the API") {
    // q60 bernoulli sample: scan-side filter, no shuffle at all
    val q60 = PlanChecks.inspect(SparkEntry.queries("q60_sample_bernoulli")(spark, dir))
    assert(q60.hashExchanges == 0, q60.render)
    // q77 LM scoring: vocab broadcast, corpus never sort-merge-joined
    val q77 = PlanChecks.inspect(SparkEntry.queries("q77_lm_quality")(spark, dir))
    assert(q77.broadcastHashJoins >= 1 && q77.sortMergeJoins == 0, q77.render)
  }

  test("refreshDedupSnapshot existing side: 3-column pruned scan, ONE key shuffle shared by window and aggregate") {
    import graft.scd.Scd
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec

    // existing side carries a 4th column the snapshot compare never needs:
    // the operator's internal select must prune it OUT of the scan
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val existing = orders.select(
      col("o_custkey").as("uuid"),
      col("o_orderdate").as("scraped_at"),
      md5(col("o_orderpriority")).as("row_hash"),
      col("o_totalprice"))
    val incoming = spark.read.parquet(s"$dir/orders.parquet").select(
      col("o_custkey").as("uuid"),
      col("o_orderdate").as("scraped_at"),
      md5(concat(col("o_orderpriority"), lit("#new"))).as("row_hash"))
    val out = Scd.refreshDedupSnapshot(incoming, existing, col("uuid"), col("scraped_at"))
    out.count() // materialize so AQE's final stages are inspectable

    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case o => o +: o.children.flatMap(nodes)
    }
    val all = nodes(out.queryExecution.executedPlan)
    val win = all.collectFirst { case w: WindowExec => w }
      .getOrElse(fail("no WindowExec in the plan"))
    // scan -> ONE exchange -> window: the rank window's required
    // distribution is the only shuffle the existing side pays
    val below = nodes(win)
    assert(below.count(_.isInstanceOf[ShuffleExchangeExec]) == 1,
      s"existing side must shuffle exactly once below the window:\n$win")
    // ...and the signature aggregate REUSES that distribution: the topmost
    // aggregate whose subtree contains the window sees no second exchange
    val aggAbove = all.collectFirst {
      case h: BaseAggregateExec if nodes(h).exists(_ eq win) => h
    }.getOrElse(fail("no aggregate above the window"))
    assert(nodes(aggAbove).count(_.isInstanceOf[ShuffleExchangeExec]) == 1,
      s"the signature aggregate must share the window's key shuffle, not add one:\n$aggAbove")
    // column pruning: the existing-side scan reads only the 3 columns the
    // compare needs (o_custkey, o_orderdate, o_orderpriority) — o_totalprice is
    // pruned out even though the caller's frame carries it
    val scan = below.collectFirst {
      case n if n.nodeName.startsWith("Scan parquet") || n.nodeName.startsWith("BatchScan") => n
    }.getOrElse(fail("no parquet scan below the window"))
    assert(scan.output.size == 3,
      s"existing-side scan must be pruned to 3 columns, got ${scan.output.map(_.name)}")
    assert(!scan.output.map(_.name).contains("o_totalprice"), scan.output.map(_.name).toString)
  }
}
