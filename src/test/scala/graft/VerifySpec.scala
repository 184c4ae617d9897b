package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.io.File
import scala.jdk.CollectionConverters._

/** `graft.Verify.run` is the correctness dump the DuckDB oracle compares
  * against (`tools/check.py`): one parquet dir per selected query plus an
  * `oracle_sql.json` that must stay loadable by a standard JSON parser.
  */
class VerifySpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private val picked = Set("q01_pricing_summary", "q11_current_state")

  test("selectNames trims, drops empty entries and duplicates, keeps order") {
    assert(SparkEntry.selectNames(" q11_current_state,, q01_pricing_summary ,q11_current_state,") ==
      Seq("q11_current_state", "q01_pricing_summary"))
    assert(SparkEntry.selectNames(" , ").isEmpty)
  }

  test("run writes exactly the named queries and their oracle SQL as parseable JSON") {
    val out = tmpDir("verify-spec")
    Verify.run(spark, dir, out, Some(" q01_pricing_summary,q11_current_state"))
    val entries = new File(out).listFiles().toSeq
    assert(entries.filter(_.isDirectory).map(_.getName).toSet == picked)
    assert(entries.filter(_.isDirectory).forall(d => d.list().exists(_.endsWith(".parquet"))))
    // the oracle strings are multi-line (triple-quoted SQL): parsing is what
    // proves the newline escaping the oracle's json.load relies on
    val json = new ObjectMapper().readValue(new File(out, "oracle_sql.json"), classOf[java.util.Map[String, String]])
    assert(json.asScala.toMap == SparkEntry.oracleSql.filter { case (k, _) => picked(k) })
    assert(json.asScala.values.forall(_.contains("\n")))
  }

  test("an unknown name throws naming it before anything is written") {
    val out = new File(tmpDir("verify-spec-unknown"), "out")
    val e = intercept[IllegalArgumentException] {
      Verify.run(spark, dir, out.getPath, Some("q01_pricing_summary, q01_pricing_sumary"))
    }
    assert(e.getMessage.contains("q01_pricing_sumary"))
    assert(!out.exists())
  }
}
