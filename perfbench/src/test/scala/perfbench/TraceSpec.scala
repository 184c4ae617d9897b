package perfbench

import graft.lake.Lake
import graft.scd.Scd
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("a job's layer is the package of its first repository frame") {
    val lake = "org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:369)\n" +
      "graft.lake.Lake$.$anonfun$append$1(Lake.scala:224)\ngraft.ingest.Engine$.runBatch(Engine.scala:467)"
    assert(Layers.of(lake, Layers.Scd) == Layers.Lake)
    val ingest = "org.apache.spark.sql.classic.Dataset.count(Dataset.scala:1521)\n" +
      "graft.ingest.Engine$.$anonfun$runBatch$13(Engine.scala:467)"
    assert(Layers.of(ingest, Layers.Scd) == Layers.Ingest)
    val ops = "org.apache.spark.sql.classic.Dataset.count(Dataset.scala:1521)\n" +
      "graft.functions.Foo$.bar(Foo.scala:1)"
    assert(Layers.of(ops, Layers.Ingest) == Layers.Operators)
    val bench = "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1504)\n" +
      "perfbench.ResultHash$.apply(Workloads.scala:412)\ngraft.lake.Lake$.read(Lake.scala:282)"
    assert(Layers.of(bench, Layers.Scd) == Layers.Scd, "the benchmark's own action takes its span's layer")
    assert(Layers.of("", Layers.Operators) == Layers.Operators)
    assert(!Layers.hasRepoFrame(bench.linesIterator.take(2).mkString("\n")))
  }

  test("on a tiny lake, appends map to lake and a history lookup to scd") {
    val spark = TestSpark.session
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("perfbench-trace").toString
    val trace = new Trace(spark)
    try {
      (0 until 2).foreach { r =>
        val ts = new java.sql.Timestamp(1700000000000L + r * 1000L)
        val df = Seq(("u1", s"v$r"), ("u2", "same")).toDF("uuid", "owner")
        trace.span(s"append.$r", Layers.Ingest)(Lake.append(Lake.stampMetadata(df, ts), root, "s", "properties"))
      }
      val n = trace.span("history", Layers.Scd) {
        Scd.history(Lake.read(spark, root, "s", "properties"), col("uuid"), lit("u1"), col("row_hash"),
          col("scraped_at")).collect().length
      }
      assert(n == 2)
      val appends = trace.spansNamed(_.startsWith("append."))
      val appendJobs = appends.flatMap(trace.jobsOf)
      assert(appendJobs.nonEmpty && appendJobs.forall(_.layer == Layers.Lake))
      assert(appendJobs.exists(_.stats.outputBytes > 0))
      val history = trace.spansNamed(_ == "history").head
      val historyJobs = trace.jobsOf(history)
      assert(historyJobs.exists(_.layer == Layers.Scd), historyJobs.map(j => j.layer -> j.callSite.take(200)))
      assert(trace.scansOf(history).map(_.files).sum >= 1)
      val gap = trace.driverGapSeconds(history)
      assert(gap >= 0 && gap <= history.seconds)
    } finally trace.close()
  }
}
