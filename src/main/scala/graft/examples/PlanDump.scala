package graft.examples

import graft.SparkEntry

/** Dump the AQE-final `explain("formatted")` of named SparkEntry queries to
  * files — the plan evidence the optimization rounds commit under plans/.
  * `runMain graft.examples.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>`.
  * Each query is collect()-driven first so the printed plan is the final
  * (post-AQE) one: count() would plan its own cloned QueryExecution and
  * leave this df's plan at isFinalPlan=false. Plan properties that must
  * hold are asserted in `PlanInvariantsSpec`, not read from these dumps.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>")
    val Array(dir, outDir, suffix) = args.take(3)
    // sbt splits "q01_pricing_summary, q11_current_state" at the space
    val names = SparkEntry.selectNames(args.drop(3).mkString(","))
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      spark.sharedState.cacheManager.clearCache()
      val df = SparkEntry.queries(name)(spark, dir)
      val n = df.collect().length
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        s"== $name ($n rows, $dir) ==\n" + plan)
      println(s"[plandump] $name -> $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
